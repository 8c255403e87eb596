package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, IntegerType, LongType}

import graft.Tables
import graft.Tables.{load => t}

import QueryDef.{cents, d4ToDouble, d6ToDouble, dec, dec38, rev, spread, toksOf}

/** Relational and analytic SQL gates over the driver's synthetic tables:
  * the reference's operator inventory (SURVEY.md §2 ids in `covers`),
  * the 22 TPC-H query shapes, window frames, set operations, subqueries,
  * the scalar-function surface and the business-analytics tail.
  *
  * Each query is re-expressed Spark-first: declarative DataFrame plans,
  * broadcast hints for dim joins, decimal-exact aggregation so results
  * hash-match the DuckDB oracle regardless of partial-agg order.
  *
  * Reference semantics being reproduced (citations into the reference
  * repository): grouped aggregates `src/transformation/
  * aggregators.py:21-31`, conditional aggregation `:129-140`, rolling
  * frames `:40-53`, ranking `:98-115,207-213`, LAG/LEAD `:148-164`,
  * unnest `:66-78`, FILTER-clause window `:280-286`, interval-overlap
  * theta join `:298-325`, scalar subquery `:270-276`.
  */
object RelationalGates {

  // ---------------------------------------------------------------- A1/A4
  private val q01 = QueryDef(
    "q01_groupby_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("A1", "A4"))

  // ---------------------------------------------------------------- A2
  private val q02 = QueryDef(
    "q02_conditional_agg",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_totalprice") > 150000, 1).otherwise(0)).as("n_big"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("A2", "A7"))

  // ---------------------------------------------------------------- A3
  private val q03 = QueryDef(
    "q03_count_distinct",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          max(col("l_quantity")).as("max_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
      CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A3"))

  // ---------------------------------------------------------------- A5
  // Hour × day-of-week bucketing. Spark dayofweek is Sunday=1, the
  // reference's STRFTIME('%w') (and DuckDB dayofweek) are Sunday=0 —
  // subtract 1 for parity (SURVEY §2.4 A5).
  private val q04 = QueryDef(
    "q04_hour_dow",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(
          date_format(col("ts"), "HH").as("hour_of_day"),
          (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"))
        .agg(
          count(lit(1)).as("n_events"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("avg_value"))
        .orderBy("hour_of_day", "dow")
    },
    Some("""SELECT strftime(ts, '%H') AS hour_of_day,
      CAST(dayofweek(ts) AS INTEGER) AS dow,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5"))

  // ---------------------------------------------------------------- A6/J4
  // String-to-rows unnest: the reference contorts CSV → json_each
  // (aggregators.py:66-78); Spark's explode(split) is the native form.
  private val q05 = QueryDef(
    "q05_explode_tokens",
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(explode(split(lower(col("text")), " +")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("token"))
        .limit(25)
    },
    Some("""WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), ' +')) AS token FROM documents)
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
      WHERE token <> '' GROUP BY token
      ORDER BY cnt DESC, token LIMIT 25"""),
    covers = Seq("A6", "J4", "O2"))

  // ---------------------------------------------------------------- A7
  private val q06 = QueryDef(
    "q06_global_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(dec(col("l_extendedprice"))).cast("double").as("total_price"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_discount"),
          min(to_date(col("l_shipdate"))).as("first_ship"),
          max(to_date(col("l_shipdate"))).as("last_ship"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_discount,
      CAST(MIN(l_shipdate) AS DATE) AS first_ship,
      CAST(MAX(l_shipdate) AS DATE) AS last_ship
      FROM lineitem"""),
    covers = Seq("A7"))

  // ---------------------------------------------------------------- W1/W2/W7/A8
  // Daily revenue with a 7-row sliding frame — the reference's
  // ROLLING_TREND (aggregators.py:40-53). Aggregate first, window over
  // the (small) aggregated frame; decimal through the window so frame
  // evaluation order is irrelevant.
  private val q07 = QueryDef(
    "q07_rolling_window",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy("order_date").rowsBetween(-6, Window.currentRow)
      daily.select(
          col("order_date"),
          col("n_orders"),
          sum(col("n_orders")).over(w).as("rolling_orders_7"),
          sum(col("rev")).over(w).cast("double").as("rolling_rev_7"),
          (sum(col("rev")).over(w).cast("double") /
            sum(col("n_orders")).over(w)).as("rolling_avg_price"))
        .orderBy("order_date")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT order_date, n_orders,
        CAST(SUM(n_orders) OVER w AS BIGINT) AS rolling_orders_7,
        CAST(SUM(rev) OVER w AS DOUBLE) AS rolling_rev_7,
        CAST(SUM(rev) OVER w AS DOUBLE) / SUM(n_orders) OVER w AS rolling_avg_price
      FROM daily
      WINDOW w AS (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY order_date"""),
    covers = Seq("W1", "W2", "W7", "A8"))

  // ---------------------------------------------------------------- W3/W4/W6
  // All four ranking flavors (aggregators.py:98-115, 207-213).
  // row_number gets a unique tiebreak; rank/dense_rank/percent_rank
  // order only by the (possibly tied) value — identical semantics in
  // both engines.
  private val q08 = QueryDef(
    "q08_ranking",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val byBal = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      val byBalTies = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"))
      val global = Window.orderBy("c_acctbal")
      c.select(
          col("c_custkey"),
          col("c_nationkey"),
          row_number().over(byBal).cast(LongType).as("rn"),
          rank().over(byBalTies).cast(LongType).as("rnk"),
          dense_rank().over(byBalTies).cast(LongType).as("drnk"),
          percent_rank().over(global).as("pct_rank"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey,
      ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
      RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
      DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk,
      PERCENT_RANK() OVER (ORDER BY c_acctbal) AS pct_rank
      FROM customer ORDER BY c_custkey"""),
    covers = Seq("W3", "W4", "W6"))

  // ---------------------------------------------------------------- W5
  // Day-over-day deltas via LAG/LEAD (aggregators.py:148-164).
  private val q09 = QueryDef(
    "q09_lag_lead",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val daily = o.groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.orderBy("order_date")
      daily.select(
          col("order_date"),
          col("n"),
          lag(col("n"), 1).over(w).as("prev_n"),
          (col("n") - lag(col("n"), 1).over(w)).as("delta_n"),
          ((col("n") - lag(col("n"), 1).over(w)).cast("double") * 100 /
            nullif(lag(col("n"), 1).over(w), lit(0))).as("pct_change"),
          lead(col("n"), 1).over(w).as("next_n"),
          col("rev").cast("double").as("revenue"))
        .orderBy("order_date")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT order_date, n,
        LAG(n, 1) OVER w AS prev_n,
        n - LAG(n, 1) OVER w AS delta_n,
        CAST(n - LAG(n, 1) OVER w AS DOUBLE) * 100 / NULLIF(LAG(n, 1) OVER w, 0) AS pct_change,
        LEAD(n, 1) OVER w AS next_n,
        CAST(rev AS DOUBLE) AS revenue
      FROM daily WINDOW w AS (ORDER BY order_date) ORDER BY order_date"""),
    covers = Seq("W5"))

  // ---------------------------------------------------------------- W8
  // FILTER-clause window rewrite: Spark has no FILTER on windows →
  // sum(when(cond, x)) with NO otherwise, preserving FILTER's
  // empty-set→NULL semantics (SURVEY §2.5 W8).
  private val q10 = QueryDef(
    "q10_share_window",
    (s, dir) => {
      val e = t(s, dir, "events")
      val daily = e.groupBy(
          to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val byDay = Window.partitionBy("event_date")
      daily.select(
          col("event_date"),
          col("event_type"),
          col("cnt"),
          sum(col("cnt")).over(byDay).as("day_total"),
          (col("cnt").cast("double") * 100 /
            nullif(sum(col("cnt")).over(byDay), lit(0))).as("pct_of_day"),
          sum(when(col("event_type") === "error", col("cnt")))
            .over(byDay).as("day_errors"))
        .orderBy("event_date", "event_type")
    },
    Some("""WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_date, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT event_date, event_type, cnt,
        CAST(SUM(cnt) OVER d AS BIGINT) AS day_total,
        CAST(cnt AS DOUBLE) * 100 / NULLIF(SUM(cnt) OVER d, 0) AS pct_of_day,
        CAST(SUM(cnt) FILTER (WHERE event_type = 'error') OVER d AS BIGINT) AS day_errors
      FROM daily WINDOW d AS (PARTITION BY event_date)
      ORDER BY event_date, event_type"""),
    covers = Seq("W8"))

  // ---------------------------------------------------------------- J1
  // Star-schema dim join — dims are broadcast (the 100 TB version
  // shuffles only the fact table side; dims are KBs).
  private val q11 = QueryDef(
    "q11_join_dims",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
      CAST(COUNT(*) AS BIGINT) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    covers = Seq("J1"))

  // ---------------------------------------------------------------- O1/O2
  // Top-k: Catalyst plans TakeOrderedAndProject — no full sort at scale.
  private val q12 = QueryDef(
    "q12_topk",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("order_date"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(o_orderdate AS DATE) AS order_date
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    covers = Seq("O1", "O2"))

  // ---------------------------------------------------------------- J3 (semi)
  private val q14 = QueryDef(
    "q14_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      ORDER BY c_custkey"""),
    covers = Seq("J3"))

  // ---------------------------------------------------------------- C2
  // Uncorrelated scalar subquery (aggregators.py:270-276): computed
  // once, broadcast to the filter.
  private val q16 = QueryDef(
    "q16_scalar_subquery",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val thr = o.agg(
        (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1))).as("thr"))
      o.crossJoin(broadcast(thr))
        .filter(col("o_totalprice") > col("thr"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above_avg
      FROM orders
      WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("C2", "C1"))

  // ---------------------------------------------------------------- §2.8 dates
  private val q19 = QueryDef(
    "q19_date_funcs",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(
          year(col("o_orderdate")).as("order_year"),
          month(col("o_orderdate")).as("order_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          min(to_date(col("o_orderdate"))).as("first_day"),
          max(datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate"))))
            .as("max_days_to_2002"))
        .orderBy("order_year", "order_month")
    },
    Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
      CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(MIN(o_orderdate) AS DATE) AS first_day,
      CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS INTEGER) AS max_days_to_2002
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A1"))

  // ---------------------------------------------------------------- J2
  // Interval-overlap self-join (aggregators.py:298-325). Unlike the
  // reference's pure theta join, we keep the equi key (user_id) in the
  // join condition so Spark plans a shuffled hash/sort-merge join with
  // the range predicate as a post-filter — linear shuffle, not the
  // O(n²) BroadcastNestedLoop a bare theta join would get. This is the
  // 100 TB-safe shape (SURVEY §4.3).
  private val q20 = QueryDef(
    "q20_overlap_join",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"))
      val a = e.as("a")
      val b = e.as("b")
      a.join(b,
          col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.start_ts") < col("b.end_ts") &&
          col("a.end_ts") > col("b.start_ts"))
        .groupBy(col("a.user_id").as("user_id"))
        .agg(count(lit(1)).as("n_overlapping_pairs"))
        .orderBy("user_id")
    },
    Some("""WITH s AS (
        SELECT event_id, user_id, ts AS start_ts,
               ts + INTERVAL 30 MINUTE AS end_ts
        FROM events)
      SELECT a.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
      FROM s a JOIN s b
        ON a.user_id = b.user_id
       AND a.event_id < b.event_id
       AND a.start_ts < b.end_ts
       AND a.end_ts > b.start_ts
      GROUP BY a.user_id ORDER BY user_id"""),
    covers = Seq("J2"))

  // ---------------------------------------------------------------- arrays
  // The CSV-station roundtrip pattern (split → dedupe → sort → rejoin,
  // cleaners.py:181-229 / O3) exercised generically.
  private val q37 = QueryDef(
    "q37_array_ops",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      val distinctSorted = array_sort(array_distinct(toks))
      d.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(distinctSorted).as("n_distinct"),
          array_join(slice(distinctSorted, 1, 5), ",").as("first5"),
          element_at(distinctSorted, 1).as("first_token"),
          element_at(distinctSorted, -1).as("last_token"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(len(list_sort(list_distinct(string_split(text, ' ')))) AS INTEGER) AS n_distinct,
      array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',') AS first5,
      list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token,
      list_sort(list_distinct(string_split(text, ' ')))[-1] AS last_token
      FROM documents ORDER BY doc_id"""),
    covers = Seq("O3", "P8"))

  // ---------------------------------------------------------------- set ops
  private val q38 = QueryDef(
    "q38_set_ops",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val bigSpenders = o.filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("k")).distinct()
      val union = building.union(bigSpenders).distinct()
      val inter = building.intersect(bigSpenders)
      val minus = building.except(bigSpenders)
      union.agg(count(lit(1)).as("n_union"))
        .crossJoin(inter.agg(count(lit(1)).as("n_intersect")))
        .crossJoin(minus.agg(count(lit(1)).as("n_except")))
    },
    Some("""WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
      big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building UNION SELECT k FROM big)) AS n_union,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building INTERSECT SELECT k FROM big)) AS n_intersect,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM building EXCEPT SELECT k FROM big)) AS n_except"""),
    covers = Seq("SET-ops"))

  // ---------------------------------------------------------------- rollup
  // Subtotal hierarchies; NULL group keys replaced by a sentinel so
  // both engines order identically (Spark sorts NULLS FIRST, DuckDB
  // NULLS LAST).
  private val q39 = QueryDef(
    "q39_rollup",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .rollup(col("n_name"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .select(
          coalesce(col("n_name"), lit("(all)")).as("nation"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          col("n"), col("qty"))
        .orderBy("nation", "returnflag")
    },
    Some("""SELECT
        COALESCE(n_name, '(all)') AS nation,
        COALESCE(l_returnflag, '(all)') AS returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY ROLLUP (n_name, l_returnflag)
      ORDER BY nation, returnflag"""),
    covers = Seq("AGG-rollup"))

  // ---------------------------------------------------------------- approx
  // HLL / GK sketch values differ across engines, so the sketch
  // OUTPUTS can't hash-match an oracle — but their accuracy BOUNDS
  // can: the query emits the exact values (both engines compute
  // those) plus integer flags asserting each estimate sits inside
  // its documented error band (HLL rsd 0.02 → generous ±10%;
  // approx_percentile accuracy 1000 → rank error ≤ n/1000, checked
  // against a ±5-rank-percent exact band). The sketches are
  // deterministic for fixed data, so the flags are stable and the
  // oracle pins them to 1 — a sketch drifting out of its band turns
  // the gate red instead of passing a rows-only check.
  private val q40 = QueryDef(
    "q40_approx_distinct",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // exact bands via graft.operators.ExactQuantiles — the built-in
      // percentile() buffers the whole per-group value multiset in an
      // ObjectHashAggregate; the rank-select form is one codegen'd
      // count agg + window over distinct values, bit-identical output
      // (fuzz-pinned in ExactQuantilesSpec)
      val bands = graft.operators.ExactQuantiles.cont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(("b50lo", 0.45), ("b50hi", 0.55), ("b99lo", 0.985), ("b99hi", 0.995)))
      // exact distinct on its own frame: countDistinct mixed with the
      // sketch aggregates plans an Expand that duplicates every fact
      // row; two-level distinct-then-count keeps map-side combine
      val exact = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_parts"))
      li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.99D), 1000)")
            .as("pa"))
        .join(exact, Seq("l_returnflag"))
        .join(bands, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"),
          (col("ap").cast("double") >= col("exact_parts") * 0.9 &&
            col("ap").cast("double") <= col("exact_parts") * 1.1)
            .cast("long").as("hll_within_10pct"),
          (element_at(col("pa"), 1) >= col("b50lo") &&
            element_at(col("pa"), 1) <= col("b50hi"))
            .cast("long").as("p50_in_band"),
          (element_at(col("pa"), 2) >= col("b99lo") &&
            element_at(col("pa"), 2) <= col("b99hi"))
            .cast("long").as("p99_in_band"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        CAST(1 AS BIGINT) AS hll_within_10pct,
        CAST(1 AS BIGINT) AS p50_in_band,
        CAST(1 AS BIGINT) AS p99_in_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("AGG-approx"))

  // ---------------------------------------------------------------- as-of join
  // Each click is enriched with the user's most recent purchase at or
  // before it. Spark runs graft.operators.AsOfJoin (union +
  // last-non-null window — one key shuffle, no range explosion); the
  // oracle expresses the identical union+window semantics in SQL.
  private val q41 = QueryDef(
    "q41_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_asof_value"),
          max(col("asof_event_id")).as("last_purchase_id"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS BIGINT) AS p_id
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, event_id FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          last_value(CASE WHEN is_left = 0 THEN p_id END IGNORE NULLS) OVER w AS aid
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_asof_value,
        CAST(MAX(aid) AS BIGINT) AS last_purchase_id
      FROM c WHERE is_left = 1
      GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof"))

  // ---------------------------------------------------------------- batch sessionization
  // Gap-based sessions in pure SQL/window form (the batch twin of
  // streaming/EventStreams.sessionize): flag gap > 30 min, running-sum
  // the flags into session ids, aggregate per user.
  private val q42 = QueryDef(
    "q42_sessionize_batch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = e.withColumn("new_s",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
            > 30L * 60 * 1000000, 1).otherwise(0))
      val sessions = flagged
        .withColumn("sid", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(
          count(lit(1)).as("n_events"),
          // exact integer micros — summing fractional seconds would be
          // partial-agg-order dependent in the last ULP
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"))
      sessions.groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          (sum(col("duration_us")).cast("double") / 1000000d)
            .as("total_session_sec"))
        .orderBy("user_id")
    },
    Some("""WITH ordered AS (
        SELECT user_id, ts, event_id,
          LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id,
          CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 30*60*1000000
               THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      sessions AS (
        SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
          epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        FROM numbered GROUP BY 1, 2)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(MAX(n_events) AS BIGINT) AS max_session_events,
        CAST(SUM(duration_us) AS DOUBLE) / 1000000 AS total_session_sec
      FROM sessions GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("SESSION-batch"))

  // ---------------------------------------------------------------- JSON scalar surface
  private val q43 = QueryDef(
    "q43_json_extract",
    (s, dir) => {
      val e = t(s, dir, "events")
      val k = get_json_object(col("props"), "$.k").cast(IntegerType)
      e.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(k).as("sum_k"),
          countDistinct(k).as("n_distinct_k"),
          max(k).as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_distinct_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("JSON-extract"))

  // ---------------------------------------------------------------- pivot
  // Spark's relational pivot with a FIXED value list (so both engines
  // agree on columns); DuckDB twin is the conditional-agg expansion.
  private val q44 = QueryDef(
    "q44_pivot",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("A", "qty_a")
        .withColumnRenamed("N", "qty_n")
        .withColumnRenamed("R", "qty_r")
        .orderBy("l_linestatus")
    },
    Some("""SELECT l_linestatus,
      CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""),
    covers = Seq("AGG-pivot"))

  // ------------------------------------------------------------ cube
  // Full grouping-set lattice with GROUPING() ids (rollup's big
  // sibling, q39); null keys coalesced to sentinels for identical
  // ordering in both engines.
  private val q49 = QueryDef(
    "q49_cube_grouping",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("g_rf"), col("g_ls"), col("n"), col("qty"))
        .orderBy("returnflag", "linestatus")
    },
    Some("""SELECT
        COALESCE(l_returnflag, '(all)') AS returnflag,
        COALESCE(l_linestatus, '(all)') AS linestatus,
        CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),
    covers = Seq("AGG-cube"))

  // ------------------------------------------------------------ exact percentiles
  // Exact (sort-based) quantiles — the precise twin of q40's sketch.
  // Only dyadic fractions (k/4) so the interpolation (1-g)*lo + g*hi
  // vs lo + (b-a)*g is exact either way on the integer-valued data.
  private val q50 = QueryDef(
    "q50_exact_percentiles",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("ps"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p50"),
          element_at(col("ps"), 3).as("p75"),
          col("n"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("AGG-percentile"))

  // ------------------------------------------------------------ corr / regression
  // Pearson correlation + least-squares line WITHOUT corr()/covar():
  // both engines' built-ins accumulate doubles in partial-agg order
  // (nondeterministic); deriving from exact decimal sums with one
  // shared final expression tree is bit-stable at any scale.
  private val q51 = QueryDef(
    "q51_corr_regression",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val x = col("l_quantity").cast("decimal(18,2)")
      val y = col("l_discount").cast("decimal(18,2)")
      val sums = li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      val slope = cov / varx
      sums.select(
          col("l_returnflag"), col("n"), col("sx"), col("sy"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
          (cov / (sqrt(varx) * sqrt(vary))).as("corr"))
        .orderBy("l_returnflag")
    },
    Some("""WITH s AS (
        SELECT l_returnflag,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n, sx, sy,
        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS corr
      FROM s ORDER BY l_returnflag"""),
    covers = Seq("AGG-stats"))

  // ------------------------------------------------------------ RANGE frame
  // Value-based (not row-based) window frame: a 7-day trailing window
  // over possibly-gapped daily buckets — RANGE semantics differ from
  // ROWS exactly when days are missing. Integer `div` for the day
  // bucket so both engines floor identically.
  private val q53 = QueryDef(
    "q53_range_frame_window",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val daily = o
        // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the cast
        // matches DuckDB's epoch_us exactly
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("d"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      // Unpartitioned value-range window — single-partition by design,
      // same caveat as W3/W7 (2.4k day rows; partition by a coarser key
      // at real scale).
      val w = Window.orderBy("d").rangeBetween(-6, 0)
      daily.select(
          col("d"), col("n"),
          sum(col("n")).over(w).cast("long").as("n_7d"),
          sum(col("tot")).over(w).cast("double").as("tot_7d"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
        FROM orders GROUP BY 1)
      SELECT d, n,
        CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
        CAST(SUM(tot) OVER w AS DOUBLE) AS tot_7d
      FROM daily WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY d"""),
    covers = Seq("WIN-range"))

  // ------------------------------------------------------------ edit distance
  private val q56 = QueryDef(
    "q56_levenshtein",
    (s, dir) => {
      val p = t(s, dir, "part")
      val lev = levenshtein(col("p_name"), col("p_type"))
      p.groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          sum(lev).as("sum_lev"),
          min(lev).as("min_lev"),
          max(lev).as("max_lev"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(levenshtein(p_name, p_type)) AS BIGINT) AS sum_lev,
        CAST(MIN(levenshtein(p_name, p_type)) AS INTEGER) AS min_lev,
        CAST(MAX(levenshtein(p_name, p_type)) AS INTEGER) AS max_lev
      FROM part GROUP BY 1 ORDER BY 1"""),
    covers = Seq("STR-editdist"))

  // ------------------------------------------------------------ argmax
  // max_by semantics with a deterministic tiebreak. The oracle keeps
  // the didactic struct-max form (lexicographic (price, key) in both
  // engines); the engine packs the SAME ordering into one monotone
  // DECIMAL — cents·10¹³ + orderkey — because a struct max buffer
  // demotes HashAggregate to SortAggregate (one extra per-partition
  // sort of the whole fact), while a DECIMAL max keeps the hash path.
  // Decode is exact: cents < 2^53, /100.0 is correctly rounded back
  // to the source's 2-decimal double. max_by() itself is avoided for
  // its nondeterministic tie handling under partitioning.
  private val q57 = QueryDef(
    "q57_argmax",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val packed = (dec(col("o_totalprice")) * 100)
        .cast(DecimalType(38, 0)) * lit(10000000000000L) + col("o_orderkey")
      o.groupBy(col("o_custkey"))
        .agg(max(packed).as("best"))
        .select(
          col("o_custkey"),
          (col("best") % lit(10000000000000L)).cast("long").as("top_order"),
          // integral DIV (not /): decimal / rounds HALF_UP at the cast,
          // which would leak the key part into the price for large keys
          (expr("best DIV 10000000000000").cast("double") / lit(100.0d))
            .as("top_price"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey,
        struct_extract(max(struct_pack(p := o_totalprice, k := o_orderkey)), 'k') AS top_order,
        CAST(struct_extract(max(struct_pack(p := o_totalprice, k := o_orderkey)), 'p') AS DOUBLE) AS top_price
      FROM orders GROUP BY 1 ORDER BY o_custkey"""),
    covers = Seq("AGG-argmax"))

  // ------------------------------------------------------------ custom physical top-k
  // The graft.plans.TopKPerKey custom operator (logical node →
  // strategy → partial/final physical heaps): bounded O(k) memory per
  // key and map-side shuffle reduction, vs the row_number window form
  // that sorts every row of every key. The oracle IS that window form
  // — proving the custom operator's semantics equal Spark's built-in.
  private val q58 = QueryDef(
    "q58_topk_per_key",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.TopKPerKey.perKey(o, Seq("o_custkey"),
          Seq(desc("o_totalprice"), asc("o_orderkey")), k = 3, rankName = "rk")
        .orderBy("o_custkey", "rk")
    },
    Some("""WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders)
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= 3 ORDER BY o_custkey, rk"""),
    covers = Seq("TOPK-perkey"))

  // ------------------------------------------------------------ skew-salted join
  // operators/SkewJoin under the gate: the salted join must be
  // row-identical to the plain equi-join the oracle runs — salting is
  // pure partitioning, invisible in the result.
  private val q59 = QueryDef(
    "q59_skew_salted_join",
    (s, dir) => {
      // project BEFORE salting: the salt hashes every input column, so
      // an unpruned frame would drag the full lineitem schema through
      // the scan (ExplainAudit caught exactly that)
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInnerJoin(li, o, "l_orderkey", saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("JOIN-skew"))

  // ------------------------------------------------------------ unpivot
  // pivot's inverse (q44): wide columns → (kind, val) rows.
  private val q60 = QueryDef(
    "q60_unpivot",
    (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size_val"),
          col("p_retailprice").cast("double").as("price_val"))
      p.unpivot(Array(col("p_partkey")),
          Array(col("size_val"), col("price_val")), "kind", "val")
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("val")).as("mn"),
          max(col("val")).as("mx"))
        .orderBy("kind")
    },
    Some("""WITH u AS (
        SELECT p_partkey, kind, val FROM (
          SELECT p_partkey,
            CAST(p_size AS DOUBLE) AS size_val,
            CAST(p_retailprice AS DOUBLE) AS price_val
          FROM part)
        UNPIVOT (val FOR kind IN (size_val, price_val)))
      SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(MIN(val) AS DOUBLE) AS mn, CAST(MAX(val) AS DOUBLE) AS mx
      FROM u GROUP BY kind ORDER BY kind"""),
    covers = Seq("RESHAPE-unpivot"))

  // ------------------------------------------------------------ window function surface
  // The ranking-family long tail: ntile buckets, cume_dist (exact
  // integer ratio → identical double), first/nth value over an
  // explicit ROWS frame.
  private val q61 = QueryDef(
    "q61_window_funcs",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val framed = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.select(
          col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          cume_dist().over(w).as("cd"),
          first(col("c_custkey")).over(framed).as("poorest"),
          nth_value(col("c_custkey"), 2).over(framed).as("second_poorest"))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""WITH w AS (
        SELECT c_custkey, c_mktsegment,
          NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile,
          CUME_DIST() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS cd,
          FIRST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS poorest,
          NTH_VALUE(c_custkey, 2) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_poorest
        FROM customer)
      SELECT c_custkey, c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
             cd, poorest, second_poorest
      FROM w ORDER BY c_mktsegment, c_custkey"""),
    covers = Seq("WIN-ranking-tail"))

  // ------------------------------------------------------------ ordered string agg
  // listagg/string_agg parity via the deterministic sorted-collect
  // form (array_join ∘ array_sort ∘ collect_list ≡ string_agg ORDER BY).
  private val q62 = QueryDef(
    "q62_listagg",
    (s, dir) => {
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      n.join(c, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(
          array_join(array_sort(collect_list(col("c_mktsegment"))), ",").as("segs"),
          count(lit(1)).as("n"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name,
        string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY n_nationkey"""),
    covers = Seq("AGG-listagg"))

  // ------------------------------------------------------------ bitwise aggregates
  private val q63 = QueryDef(
    "q63_bit_aggs",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(col("event_type"))
        .agg(
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(bit_and(user_id) AS BIGINT) AS band,
        CAST(bit_or(user_id) AS BIGINT) AS bor,
        CAST(bit_xor(user_id) AS BIGINT) AS bxor,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("AGG-bitwise"))

  // ------------------------------------------------------------ recursive CTE
  // Gap-filled daily series via WITH RECURSIVE (Spark 4 iterative CTE
  // execution): a 30-day ladder from the recursive anchor left-joined
  // to the real daily counts — the canonical time-series gap-fill.
  private val q64 = QueryDef(
    "q64_recursive_gapfill",
    (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      // bounds appear ONLY in the anchor: a scalar subquery in the
      // recursive member would re-run the full orders aggregation on
      // every iteration (it cost 8s at sf0.1 before this step counter)
      s.sql("""WITH RECURSIVE daily AS (
          SELECT unix_micros(cast(o_orderdate as timestamp)) div 86400000000 AS d,
                 COUNT(*) AS n
          FROM orders_v GROUP BY 1),
        bounds AS (SELECT MAX(d) AS hi FROM daily),
        days(d, step) AS (
          SELECT hi - 29, 0 FROM bounds
          UNION ALL
          SELECT d + 1, step + 1 FROM days WHERE step < 29)
        SELECT days.d, COALESCE(daily.n, 0L) AS n,
          CAST(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
        FROM days LEFT JOIN daily ON days.d = daily.d
        ORDER BY days.d""")
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1),
      bounds AS (SELECT MAX(d) AS hi FROM daily),
      days(d, step) AS (
        SELECT hi - 29, 0 FROM bounds
        UNION ALL
        SELECT d + 1, step + 1 FROM days WHERE step < 29)
      SELECT days.d, COALESCE(daily.n, 0) AS n,
        CAST(CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
      FROM days LEFT JOIN daily ON days.d = daily.d
      ORDER BY days.d"""),
    covers = Seq("CTE-recursive"))

  // ------------------------------------------------------------ explicit grouping sets
  // Arbitrary grouping-set lattice (not the cube/rollup specials of
  // q49/q39): per-nation totals, per-(flag,status) totals, and the
  // grand total in ONE pass — Catalyst plans a single Expand, reading
  // the join output once instead of three aggregation jobs.
  private val q67 = QueryDef(
    "q67_grouping_sets",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name")),
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq.empty[Column]),
          col("n_name"), col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .select(
          coalesce(col("n_name"), lit("(all)")).as("nation"),
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("revenue"))
        .orderBy("nation", "returnflag", "linestatus")
    },
    Some("""SELECT
        COALESCE(n_name, '(all)') AS nation,
        COALESCE(l_returnflag, '(all)') AS returnflag,
        COALESCE(l_linestatus, '(all)') AS linestatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY GROUPING SETS ((n_name), (l_returnflag, l_linestatus), ())
      ORDER BY nation, returnflag, linestatus"""),
    covers = Seq("AGG-groupingsets"))

  // ------------------------------------------------------------ forward as-of join
  // q41's mirror: each click matched to the user's NEXT purchase at or
  // after it (attribution-window shape). Same union + window machinery
  // — first(ignoreNulls) over a forward frame — and the oracle is the
  // identical SQL construction.
  private val q68 = QueryDef(
    "q68_asof_forward",
    (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id",
          direction = "forward")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_next_value"),
          min(col("asof_event_id")).as("first_next_id"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS BIGINT) AS p_id
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, event_id FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          first_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          first_value(CASE WHEN is_left = 0 THEN p_id END IGNORE NULLS) OVER w AS aid
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, 1 - is_left, rtb
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_next_value,
        CAST(MIN(aid) AS BIGINT) AS first_next_id
      FROM c WHERE is_left = 1
      GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof"))

  // ------------------------------------------------------------ map-typed columns
  // MapType surface: build a term→count map per doc (the bag-of-words
  // feature shape), then size / keyed lookup / key enumeration — the
  // operations a feature store does on map columns.
  private val q70 = QueryDef(
    "q70_map_ops",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val tok = d.select(col("doc_id"), explode(toksOf(col("text"))).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val m = tf.groupBy("doc_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("term"), col("c"))))).as("tfm"))
      m.select(
          col("doc_id"),
          size(col("tfm")).as("n_terms"),
          coalesce(element_at(col("tfm"), "the"), lit(0L)).as("the_count"),
          array_min(map_keys(col("tfm"))).as("first_key"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      m AS (SELECT doc_id,
              map(list(term ORDER BY term), list(c ORDER BY term)) AS tfm
            FROM tf GROUP BY doc_id)
      SELECT doc_id,
        CAST(cardinality(tfm) AS INTEGER) AS n_terms,
        CAST(COALESCE(tfm['the'][1], 0) AS BIGINT) AS the_count,
        list_sort(map_keys(tfm))[1] AS first_key
      FROM m ORDER BY doc_id"""),
    covers = Seq("MAP-ops"))

  // ------------------------------------------------------------ VARIANT semi-structured
  // Spark 4's VARIANT path for semi-structured data (q43's modern
  // sibling): parse once into the binary variant encoding, then typed
  // variant_get extraction — at scale this parses each JSON document
  // once instead of per-extracted-field.
  private val q72 = QueryDef(
    "q72_variant_json",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("JSON-variant"))

  // ------------------------------------------------------------ equi-width histogram
  // Distribution profiling in two passes (min/max scan → binning
  // scan), the bin edge computed with the SAME double expression tree
  // in both engines so the floor never disagrees; the top edge folds
  // into the last bin (least(_, 9)).
  private val q73 = QueryDef(
    "q73_histogram",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val bounds = o.agg(
        min(col("o_totalprice")).cast("double").as("mn"),
        max(col("o_totalprice")).cast("double").as("mx"))
      o.crossJoin(broadcast(bounds))
        .select(least(
            floor((col("o_totalprice") - col("mn")) /
              ((col("mx") - col("mn")) / 10)), lit(9)).cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("bin")
    },
    Some("""WITH b AS (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
                        CAST(MAX(o_totalprice) AS DOUBLE) AS mx FROM orders),
      binned AS (
        SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10)), 9) AS BIGINT) AS bin
        FROM orders CROSS JOIN b)
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY bin ORDER BY bin"""),
    covers = Seq("AGG-histogram"))

  // ------------------------------------------------------------ positional explode
  // posexplode (ordinality-aware unnest): where does 'the' appear in
  // each document — first/last 0-based position and occurrence count.
  private val q74 = QueryDef(
    "q74_posexplode",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      d.select(col("doc_id"), posexplode(toksOf(col("text"))).as(Seq("pos", "tok")))
        .filter(col("tok") === "the")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_the"),
          min(col("pos")).as("first_pos"),
          max(col("pos")).as("last_pos"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      p AS (SELECT doc_id, unnest(range(0, len(tk))) AS pos, unnest(tk) AS tok FROM t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_the,
        CAST(MIN(pos) AS INTEGER) AS first_pos,
        CAST(MAX(pos) AS INTEGER) AS last_pos
      FROM p WHERE tok = 'the' GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("J4-posexplode"))

  // ------------------------------------------------------------ string surface, part 2
  // The remaining scalar string family beyond q18: padding, reverse,
  // character translation, prefix/suffix slicing, column-count repeat,
  // substring position.
  private val q75 = QueryDef(
    "q75_string_funcs2",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
          col("p_partkey"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
          reverse(col("p_brand")).as("rev"),
          translate(col("p_type"), "AEIOU", "aeiou").as("tr"),
          expr("left(p_name, 5)").as("l5"),
          expr("right(p_name, 3)").as("r3"),
          expr("repeat('-', CAST(p_partkey % 4 AS INT))").as("dashes"),
          instr(col("p_type"), "ED").as("pos_ed"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
        lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        reverse(p_brand) AS rev,
        translate(p_type, 'AEIOU', 'aeiou') AS tr,
        left(p_name, 5) AS l5, right(p_name, 3) AS r3,
        repeat('-', CAST(p_partkey % 4 AS INTEGER)) AS dashes,
        CAST(strpos(p_type, 'ED') AS INTEGER) AS pos_ed
      FROM part ORDER BY p_partkey"""),
    covers = Seq("STR-surface2"))

  // ------------------------------------------------------------ lateral join
  // Correlated LATERAL derived table with ORDER BY + LIMIT: per
  // nation, its two richest customers. Catalyst decorrelates the
  // limit into a per-key ranked join — the declarative form of the
  // reference's per-group "top N" loops. (DataFrame twin of the same
  // shape is q12/q58's window/TopKPerKey; this gates the SQL surface.)
  private val q76 = QueryDef(
    "q76_lateral_topk",
    (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""SELECT n_name, c_name, c_acctbal
        FROM nation_v,
        LATERAL (SELECT c_name, c_acctbal FROM customer_v
                 WHERE c_nationkey = n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top2
        ORDER BY n_name, c_acctbal DESC, c_name""")
    },
    Some("""SELECT n_name, c_name, c_acctbal
      FROM nation,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) AS top2
      ORDER BY n_name, c_acctbal DESC, c_name"""),
    covers = Seq("C-lateral"))

  // ------------------------------------------------------------ EXISTS / NOT EXISTS
  // Correlated existential subqueries in SQL form; Catalyst plans
  // them as semi/anti joins (the DataFrame twins are q13/q14).
  private val q77 = QueryDef(
    "q77_exists_subquery",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("exists_c")
      t(s, dir, "orders").createOrReplaceTempView("exists_o")
      s.sql("""SELECT c_custkey, c_name FROM exists_c c
        WHERE EXISTS (SELECT 1 FROM exists_o o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM exists_o o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F')
      ORDER BY c_custkey"""),
    covers = Seq("C-exists"))

  // ------------------------------------------------------------ defensive try_*
  // ANSI mode is on (Spark 4 default): bad casts and zero divisors
  // THROW unless handled. The try_* family turns data errors into
  // NULLs — row-level fault tolerance for dirty corpora, where one
  // malformed record must not kill a 100 TB job.
  private val q78 = QueryDef(
    "q78_try_functions",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
          col("p_partkey"),
          expr("try_cast(CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS STRING) " +
            "ELSE p_type END AS INT)").as("as_int"),
          expr("try_divide(CAST(p_size AS DOUBLE), p_partkey % 5)").as("safe_div"),
          expr("try_element_at(split(p_name, ' '), 3)").as("tok3"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
        TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS VARCHAR)
                 ELSE p_type END AS INTEGER) AS as_int,
        CAST(p_size AS DOUBLE) / nullif(p_partkey % 5, 0) AS safe_div,
        string_split(p_name, ' ')[3] AS tok3
      FROM part ORDER BY p_partkey"""),
    covers = Seq("SC-try"))

  // ------------------------------------------------------------ median + mode
  // median() (exact, interpolated — dyadic midpoints so both engines
  // agree bitwise) and a DETERMINISTIC mode: built-in mode() breaks
  // ties arbitrarily, so the gateable form is argmax over (count,
  // value) structs — ties go to the larger value in both engines.
  private val q79 = QueryDef(
    "q79_median_mode",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val med = li.groupBy(col("l_returnflag").as("flag"))
        .agg(median(col("l_quantity")).as("med_qty"))
      val cnt = li.groupBy(col("l_returnflag").as("flag"), col("l_linenumber").as("v"))
        .agg(count(lit(1)).as("c"))
      val mode = cnt.groupBy("flag")
        .agg(max(struct(col("c"), col("v"))).as("mx"))
        .select(col("flag"), col("mx").getField("v").as("mode_ln"))
      med.join(mode, "flag").orderBy("flag")
    },
    Some("""WITH cnt AS (SELECT l_returnflag AS flag, l_linenumber AS v, COUNT(*) AS c
               FROM lineitem GROUP BY 1, 2)
      SELECT m.flag, m.med_qty, struct_extract(x.mx, 'v') AS mode_ln FROM
       (SELECT l_returnflag AS flag, median(l_quantity) AS med_qty
        FROM lineitem GROUP BY 1) m
       JOIN (SELECT flag, max(struct_pack(c := c, v := v)) AS mx
             FROM cnt GROUP BY flag) x USING (flag)
      ORDER BY flag"""),
    covers = Seq("AGG-median-mode"))

  // ------------------------------------------------------------ regexp surface
  // The regexp scalar family: extract-all + count, global replace,
  // first-match extract, boolean match. All codegen'd expressions.
  private val q80 = QueryDef(
    "q80_regexp_funcs",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
          col("p_partkey"),
          size(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0))).as("n_alpha"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
          regexp_extract(col("p_type"), "[A-Z]+", 0).as("first_upper"),
          col("p_name").rlike("red|blue").as("is_colored"),
          regexp_count(col("p_name"), lit("e")).as("n_e"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
        CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER) AS n_alpha,
        regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        regexp_extract(p_type, '[A-Z]+') AS first_upper,
        regexp_matches(p_name, 'red|blue') AS is_colored,
        CAST(len(regexp_extract_all(p_name, 'e')) AS INTEGER) AS n_e
      FROM part ORDER BY p_partkey"""),
    covers = Seq("STR-regexp"))

  // ------------------------------------------------------------ multiset set ops
  // EXCEPT ALL / INTERSECT ALL: bag semantics (q38 gates the DISTINCT
  // variants). Duplicate keys must survive with multiplicity
  // arithmetic, not collapse.
  private val q81 = QueryDef(
    "q81_setops_all",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
      a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
        .crossJoin(a.intersectAll(b).agg(count(lit(1)).as("n_intersect_all")))
        .crossJoin(a.unionAll(b).agg(count(lit(1)).as("n_union_all")))
    },
    Some("""WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
           b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a EXCEPT ALL SELECT k FROM b)) AS n_except_all,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a INTERSECT ALL SELECT k FROM b)) AS n_intersect_all,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
         (SELECT k FROM a UNION ALL SELECT k FROM b)) AS n_union_all"""),
    covers = Seq("SET-ops-all"))

  // ------------------------------------------------------------ null-safe join
  // <=> (IS NOT DISTINCT FROM) as an equi-join key: NULL matches NULL
  // exactly once per pair. Still a hash join — Catalyst treats
  // EqualNullSafe as a joinable key, no nested loop.
  private val q82 = QueryDef(
    "q82_nullsafe_join",
    (s, dir) => {
      val l = t(s, dir, "orders").select(
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey") % 100).as("lk"))
      val r = t(s, dir, "customer")
        .select(when(col("c_custkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey") % 100).as("rk"))
        .groupBy("rk").agg(count(lit(1)).as("c"))
      l.join(r, col("lk") <=> col("rk"))
        .agg(
          count(lit(1)).as("n_pairs"),
          count(when(col("lk").isNull, lit(1))).as("n_null_pairs"),
          sum(col("c")).as("sum_right"))
    },
    Some("""WITH l AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                 ELSE o_custkey % 100 END AS k FROM orders),
           r AS (SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
                 ELSE c_custkey % 100 END AS k, COUNT(*) AS c
               FROM customer GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(COUNT(*) FILTER (WHERE l.k IS NULL) AS BIGINT) AS n_null_pairs,
        CAST(SUM(r.c) AS BIGINT) AS sum_right
      FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k"""),
    covers = Seq("J-nullsafe"))

  // ------------------------------------------------------------ session_window
  // Native session windows in batch: groupBy(session_window(ts, gap))
  // — one shuffle on the user key, no window-function pass (q42 gates
  // the flag + running-sum formulation; this gates the operator).
  // Spark merges an event into a session iff it lands strictly before
  // session_end (= last event + gap), so the oracle's new-session
  // test is `diff >= gap`, unlike q42's `>`.
  private val q84 = QueryDef(
    "q84_session_window",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
      e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .select(
          col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start_us")
    },
    Some("""WITH ordered AS (
        SELECT user_id, ts, event_id, value,
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev IS NULL
            OR epoch_us(ts) - epoch_us(prev) >= 30*60*1000000 THEN 1 ELSE 0 END AS new_s
        FROM ordered),
      numbered AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
        epoch_us(MIN(ts)) AS session_start_us,
        epoch_us(MAX(ts)) + 30*60*1000000 AS session_end_us,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM numbered GROUP BY user_id, sid
      ORDER BY user_id, session_start_us"""),
    covers = Seq("W-session-window"))

  // ------------------------------------------------------------ higher-order funcs
  // Lambda functions over arrays — filter/transform/aggregate/
  // contains — all codegen'd, no explode-shuffle round trip for
  // per-row array work.
  private val q85 = QueryDef(
    "q85_hof_arrays",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      d.select(
          col("doc_id"),
          size(filter(toks, x => length(x) > 3)).as("n_long"),
          array_join(transform(slice(toks, 1, 3), x => upper(x)), "_").as("upper3"),
          aggregate(toks, lit(0), (a, x) => a + length(x)).cast("long")
            .as("total_chars"),
          array_contains(toks, "the").as("has_the"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
      SELECT doc_id,
        CAST(len(list_filter(tk, x -> len(x) > 3)) AS INTEGER) AS n_long,
        array_to_string(list_transform(tk[1:3], x -> upper(x)), '_') AS upper3,
        CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT) AS total_chars,
        list_contains(tk, 'the') AS has_the
      FROM t ORDER BY doc_id"""),
    covers = Seq("SC-hof"))

  // ------------------------------------------------------------ schema-drift union
  // unionByName with missing columns: batches whose schemas drifted
  // (reordered + dropped fields) combine positionally-safely, absent
  // fields become NULL — the ingestion posture for a corpus collected
  // over years of evolving upstream formats.
  private val q89 = QueryDef(
    "q89_union_by_name",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderstatus").as("st"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderstatus").as("st"), col("o_orderkey").as("k"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy("st")
        .agg(count(lit(1)).as("n"),
          sum(when(col("price").isNull, 1).otherwise(0)).as("n_missing_price"))
        .orderBy("st")
    },
    Some("""WITH a AS (SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st
               FROM orders WHERE o_orderkey % 2 = 0),
           b AS (SELECT o_orderstatus AS st, o_orderkey AS k
               FROM orders WHERE o_orderkey % 2 = 1),
           u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
      SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_price
      FROM u GROUP BY st ORDER BY st"""),
    covers = Seq("SET-union-by-name"))

  // ------------------------------------------------------------ nearest as-of
  // The third as-of direction (q41 backward, q68 forward): closest
  // right row on EITHER side, ties to backward. Both one-sided
  // carries evaluate over the same key partitioning — two window
  // sorts, one shuffle. The oracle re-implements the dual-window
  // choose in SQL.
  private val q92 = QueryDef(
    "q92_asof_nearest",
    (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "ts"), tiebreak = "event_id", direction = "nearest")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(when(col("asof_ts").isNotNull &&
            unix_micros(col("asof_ts")) <= unix_micros(col("ts")), 1)
            .otherwise(0)).as("n_backward"),
          sum(abs(unix_micros(col("ts")) - unix_micros(col("asof_ts"))))
            .as("sum_gap_us"),
          sum(dec(col("asof_value"))).cast("double")
            .as("sum_nearest_value"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value, CAST(NULL AS TIMESTAMP) AS p_rt
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value, ts FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER wb AS bv,
          last_value(CASE WHEN is_left = 0 THEN p_rt END IGNORE NULLS) OVER wb AS brt,
          first_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER wf AS fv,
          first_value(CASE WHEN is_left = 0 THEN p_rt END IGNORE NULLS) OVER wf AS frt
        FROM u
        WINDOW
          wb AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wf AS (PARTITION BY user_id ORDER BY t, 1 - is_left, rtb
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      chosen AS (
        SELECT user_id, t,
          CASE WHEN brt IS NOT NULL AND frt IS NOT NULL THEN
                 CASE WHEN epoch_us(t) - epoch_us(brt) <= epoch_us(frt) - epoch_us(t)
                      THEN bv ELSE fv END
               WHEN brt IS NOT NULL THEN bv ELSE fv END AS nv,
          CASE WHEN brt IS NOT NULL AND frt IS NOT NULL THEN
                 least(epoch_us(t) - epoch_us(brt), epoch_us(frt) - epoch_us(t))
               WHEN brt IS NOT NULL THEN epoch_us(t) - epoch_us(brt)
               WHEN frt IS NOT NULL THEN epoch_us(frt) - epoch_us(t) END AS gap_us,
          CASE WHEN brt IS NOT NULL AND (frt IS NULL OR
                 epoch_us(t) - epoch_us(brt) <= epoch_us(frt) - epoch_us(t))
               THEN 1 ELSE 0 END AS back_chosen
        FROM c WHERE is_left = 1)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(nv) AS BIGINT) AS n_matched,
        CAST(SUM(back_chosen) AS BIGINT) AS n_backward,
        CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
        CAST(SUM(CAST(nv AS DECIMAL(18,2))) AS DOUBLE) AS sum_nearest_value
      FROM chosen GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("JOIN-asof-nearest"))

  // ------------------------------------------------------------ incremental aggregate maintenance
  // store/AggTable's mergeable-partials core under the oracle gate:
  // events arrive as three disjoint batches (event_id % 3), each is
  // aggregated alone, the partials fold pairwise — and the finished
  // result hash-matches DuckDB's ONE-PASS aggregate of the whole
  // table. Exact DECIMAL sums make the maintained view bit-identical
  // no matter how the data was batched; at 100 TB each refresh costs
  // O(new batch + touched groups), never a corpus rescan.
  private val q94 = QueryDef(
    "q94_incremental_agg",
    (s, dir) => {
      val e = t(s, dir, "events")
      val spec = graft.store.AggSpec(Seq("event_type"), Seq("value"))
      val parts = (0 until 3).map(i => spec.partial(e.filter(col("event_id") % 3 === i)))
      spec.finish(parts.reduce(spec.merge)).orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
      MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("AGG-incremental-maintenance"))

  // ------------------------------------------------------------ mergeable HLL sketches
  // Incremental DISTINCT-count maintenance: exact distincts do not
  // merge (|A ∪ B| ≠ |A| + |B|), so an incrementally-maintained
  // count-distinct view stores DataSketches HLL state instead —
  // per-batch hll_sketch_agg partials fold with hll_union_agg exactly
  // like q94's decimal sums, and the estimate is read at the end.
  // Unlike the decimal sums the fold is not bit-invariant to batching
  // (a union densifies the sketch), but the drift is bounded by the
  // sketch's error. DuckDB has no compatible sketch, so the gate pins
  // the BOUNDS instead of the estimate: exact distincts (both engines
  // compute those) plus flags asserting the folded estimate sits
  // within 5% of exact and within 1% of the one-shot sketch
  // (HllSketchSpec's two bounds). Sketches are deterministic for
  // fixed data → the flags are stable and the oracle pins them to 1.
  private val q96 = QueryDef(
    "q96_hll_incremental_distinct",
    (s, dir) => {
      val e = t(s, dir, "events")
      val parts = (0 until 3).map(i =>
        e.filter(col("event_id") % 3 === i)
          .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk")))
      val folded = parts.reduce(_ unionByName _)
        .groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk"))
        .select(col("event_type"), hll_sketch_estimate(col("sk")).as("estf"))
      val oneshot = e.groupBy("event_type")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est1"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
      exact.join(folded, Seq("event_type")).join(oneshot, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("estf").cast("double") - col("n_users")) <=
            col("n_users") * 0.05).cast("long").as("fold_within_5pct"),
          (abs(col("estf").cast("double") - col("est1").cast("double")) <=
            col("est1").cast("double") * 0.01)
            .cast("long").as("fold_matches_oneshot_1pct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(1 AS BIGINT) AS fold_within_5pct,
        CAST(1 AS BIGINT) AS fold_matches_oneshot_1pct
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-sketch-incremental"))

  // ----------------------------------------------------------- star join
  // Five-dimension star query: the fact table joins every dim
  // broadcast (each is fact/10000th the size), so the only shuffle in
  // the plan is the final group-by — the canonical warehouse shape
  // the reference pushes to Athena. Gross revenue from exact DECIMAL
  // sums.
  private val q103 = QueryDef(
    "q103_star_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val dec = DecimalType(18, 2)
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .filter(col("p_size") <= 25 && col("s_acctbal") > 0)
        .groupBy(col("r_name").as("region"), col("l_returnflag").as("flag"),
          col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("gross"))
        .orderBy("region", "flag", "brand")
    },
    Some("""SELECT r_name AS region, l_returnflag AS flag, p_brand AS brand,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_size <= 25 AND s_acctbal > 0
      GROUP BY r_name, l_returnflag, p_brand
      ORDER BY region, flag, brand"""),
    covers = Seq("J1", "A4"))

  // ----------------------------------------------- windowed distinct counts
  // COUNT(DISTINCT) as a window function — Spark's window operator
  // does not support DISTINCT aggregates, so the idiomatic form is
  // size(collect_set() OVER w): per-order distinct suppliers and
  // return flags on every line item, no self-join.
  private val q104 = QueryDef(
    "q104_windowed_distinct",
    (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          size(collect_set(col("l_suppkey")).over(w)).cast(LongType).as("n_supp"),
          size(collect_set(col("l_returnflag")).over(w)).cast(LongType).as("n_flags"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
        CAST(count(distinct l_suppkey) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_supp,
        CAST(count(distinct l_returnflag) OVER (PARTITION BY l_orderkey) AS BIGINT) AS n_flags
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("W-distinct", "A3"))

  // ---------------------------------------------------------- full outer join
  // FULL OUTER over two sparse aggregates — both sides contribute
  // unmatched keys (nulls on each side at gate scale). NULL counts are
  // kept as NULLs (outer semantics, not coalesced away); the total
  // order is on the coalesced key.
  private val q107 = QueryDef(
    "q107_full_outer",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9900)
        .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 4000)
        .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("cnk") === col("snk"), "full_outer")
        .select(coalesce(col("cnk"), col("snk")).as("nk"),
          col("n_cust"), col("n_supp"))
        .orderBy("nk")
    },
    Some("""WITH c AS (SELECT c_nationkey nk, CAST(count(*) AS BIGINT) n_cust
               FROM customer WHERE c_acctbal > 9900 GROUP BY 1),
      s AS (SELECT s_nationkey nk, CAST(count(*) AS BIGINT) n_supp
            FROM supplier WHERE s_acctbal > 4000 GROUP BY 1)
      SELECT coalesce(c.nk, s.nk) nk, n_cust, n_supp
      FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nk"""),
    covers = Seq("J-full-outer"))

  // ------------------------------------------------------------------ EWMA
  // Exponentially weighted moving average (α = 1/2) over each user's
  // last 16 event values: the frame-ordered value list folds through
  // (acc + x)/2 — a SEQUENTIAL reduction, so the IEEE tree is fixed
  // (windowed SUM would be partial-agg-order nondeterministic), and
  // dividing by 2 is exponent arithmetic (exact), so both engines
  // produce identical bits. The time-series smoothing primitive
  // alongside q07's flat rolling mean and q83's interpolation.
  private val q108 = QueryDef(
    "q108_ewma",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-15, Window.currentRow)
      val l = col("l")
      t(s, dir, "events")
        .withColumn("l", collect_list(col("value")).over(w))
        .select(col("event_id"), col("user_id"),
          aggregate(slice(l, 2, 1000), element_at(l, 1),
            (acc, x) => (acc + x) / 2).as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT event_id, user_id,
        list_reduce(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW), (acc, x) -> (acc + x)/2) AS ewma
      FROM events ORDER BY user_id, event_id"""),
    covers = Seq("W-ewma", "W1"))

  // ------------------------------------------------- mergeable histogram
  // Fixed-edge histogram as MERGEABLE state: per-batch partial bin
  // counts/sums (batches = user_id % 3) re-aggregate to exactly the
  // one-shot histogram the oracle computes — integer bin counts and
  // DECIMAL bin sums are associative, so the equality is bitwise. The
  // distribution-sketch analogue of q94's incremental sums: approximate
  // percentiles at any batch boundary cost O(bins), never a corpus
  // rescan.
  private val q111 = QueryDef(
    "q111_mergeable_histogram",
    (s, dir) => {
      val dec = DecimalType(18, 2)
      val binned = t(s, dir, "events").select(
        least(greatest(floor(col("value") / 25.0), lit(0)), lit(7))
          .cast(LongType).as("bin"),
        (col("user_id") % 3).as("b"),
        col("value"))
      val partial = binned.groupBy("b", "bin").agg(
        count(lit(1)).as("n"), sum(col("value").cast(dec)).cast(dec).as("total"))
      partial.groupBy("bin").agg(
          sum("n").as("n"), sum("total").cast(dec).cast("double").as("total"))
        .orderBy("bin")
    },
    Some("""SELECT CAST(least(greatest(floor(value / 25.0), 0), 7) AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-hist-mergeable"))

  // ------------------------------------------------------ boolean aggregates
  // bool_and / bool_or / count_if — the predicate-aggregate tail of
  // the scalar surface (q63 gates the bitwise twins).
  private val q114 = QueryDef(
    "q114_bool_aggs",
    (s, dir) =>
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_orderstatus") === "F").as("any_final"),
          count_if(col("o_totalprice") > 200000).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
        bool_and(o_totalprice > 1000) AS all_over_1k,
        bool_or(o_orderstatus = 'F') AS any_final,
        CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-bool"))

  // ------------------------------------------------------ windowed quantiles
  // Exact percentiles as WINDOW functions (no group-collapse): per-order
  // median quantity/price on every line item. Fraction choices keep the
  // interpolation bit-identical across engines: 0.5 of doubles (halving
  // is exact and round(a+b)/2 = round((a+b)/2)), 0.25 of the integer
  // quantities (dyadic interpolation of small ints is exact, the q50
  // argument).
  private val q116 = QueryDef(
    "q116_windowed_quantiles",
    (s, dir) => {
      val w = Window.partitionBy("l_orderkey")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          percentile(col("l_quantity"), lit(0.5)).over(w).as("med_qty"),
          percentile(col("l_quantity"), lit(0.25)).over(w).as("q1_qty"),
          percentile(col("l_extendedprice"), lit(0.5)).over(w).as("med_price"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
        quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_orderkey) AS med_qty,
        quantile_cont(l_quantity, 0.25) OVER (PARTITION BY l_orderkey) AS q1_qty,
        quantile_cont(l_extendedprice, 0.5) OVER (PARTITION BY l_orderkey) AS med_price
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("W-quantile"))

  // ------------------------------------------------- NOT IN null semantics
  // The classic three-valued-logic footgun, pinned: NOT IN against a
  // null-free subquery behaves like an anti-join (3 customers), but a
  // single NULL in the subquery makes NOT IN UNKNOWN for every
  // non-matching row — zero results. Both engines must agree on both.
  private val q117 = QueryDef(
    "q117_not_in_nulls",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("ni_c")
      t(s, dir, "orders").createOrReplaceTempView("ni_o")
      s.sql("""SELECT
        (SELECT count(*) FROM ni_c
         WHERE c_custkey NOT IN (SELECT o_custkey FROM ni_o
                                 WHERE o_totalprice > 300000)) AS n_clean,
        (SELECT count(*) FROM ni_c
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM ni_o
                                 WHERE o_totalprice > 300000)) AS n_poisoned""")
    },
    Some("""SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_totalprice > 300000)) AS n_clean,
      (SELECT CAST(count(*) AS BIGINT) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders
                               WHERE o_totalprice > 300000)) AS n_poisoned"""),
    covers = Seq("C-not-in-3vl"))

  // ----------------------------------------------------------- dynamic pivot
  // Pivot with DISCOVERED values: the Spark side passes no value list
  // (pivot() plans an internal distinct + sorts the values), and must
  // land on exactly the columns the oracle spells out by hand — q44
  // gates the fixed-list form.
  private val q118 = QueryDef(
    "q118_dynamic_pivot",
    (s, dir) => {
      val dec = DecimalType(18, 2)
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_nationkey") < 4)
        .groupBy(col("c_mktsegment").as("seg"))
        .pivot("n_name") // no value list: discovered + sorted by Spark
        .agg(sum(col("c_acctbal").cast(dec)).cast("double"))
        .orderBy("seg")
    },
    Some("""SELECT c_mktsegment AS seg,
        CAST(sum(CASE WHEN n_name='NATION_0' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_0",
        CAST(sum(CASE WHEN n_name='NATION_1' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_1",
        CAST(sum(CASE WHEN n_name='NATION_2' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_2",
        CAST(sum(CASE WHEN n_name='NATION_3' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "NATION_3"
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_nationkey < 4
      GROUP BY seg ORDER BY seg"""),
    covers = Seq("A-pivot-dynamic"))

  // ------------------------------------------------------------- right join
  // RIGHT OUTER with the dimension predicate in the JOIN condition
  // (not the WHERE clause — there it would kill the outer rows): every
  // supplier survives, nation only attaches below the key cutoff.
  private val q119 = QueryDef(
    "q119_right_join",
    (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey") && col("n_nationkey") < 10,
          "right")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey"),
    Some("""SELECT s_suppkey, s_name, n_name
      FROM nation RIGHT JOIN supplier
        ON s_nationkey = n_nationkey AND n_nationkey < 10
      ORDER BY s_suppkey"""),
    covers = Seq("J-right-outer"))

  // ------------------------------------------------- as-of with tolerance
  // Bounded-staleness as-of join: the latest purchase at-or-before each
  // click still matches ONLY within a 1-hour window — stale matches
  // yield nulls, the freshness contract real feature/enrichment joins
  // carry (q41 gates the unbounded form; same one-shuffle union+window
  // plan).
  private val q120 = QueryDef(
    "q120_asof_tolerance",
    (s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
      graft.operators.AsOfJoin
        .asof(clicks, purchases, "user_id", "ts", "ts",
          Seq("value", "event_id"), tiebreak = "event_id",
          toleranceMs = 3600000L)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_clicks"),
          count(col("asof_value")).as("n_matched"),
          sum(col("asof_value").cast("decimal(18,2)")).cast("double")
            .as("sum_asof_value"))
        .orderBy("user_id")
    },
    Some("""WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      purch AS (
        SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, ts AS t, 1 AS is_left, CAST(NULL AS BIGINT) AS rtb,
               CAST(NULL AS DOUBLE) AS p_value
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0, event_id, value FROM purch),
      c AS (
        SELECT user_id, t, is_left,
          last_value(CASE WHEN is_left = 0 THEN p_value END IGNORE NULLS) OVER w AS av,
          last_value(CASE WHEN is_left = 0 THEN t END IGNORE NULLS) OVER w AS art
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, is_left, rtb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      m AS (
        SELECT user_id, t,
          CASE WHEN art IS NOT NULL AND t - art <= INTERVAL 1 HOUR THEN av END AS av
        FROM c WHERE is_left = 1)
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(av) AS BIGINT) AS n_matched,
        CAST(SUM(CAST(av AS DECIMAL(18,2))) AS DOUBLE) AS sum_asof_value
      FROM m GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("J-asof-tolerance"))

  // ---------------------------------------------------------- outer explode
  // explode_outer: unnesting that PRESERVES rows whose array is empty
  // (plain explode silently drops them — the subtle row-loss bug in
  // naive token pipelines). Null results ordered via sentinel so both
  // engines agree (Spark sorts NULLS FIRST, DuckDB LAST).
  private val q122 = QueryDef(
    "q122_explode_outer",
    (s, dir) => {
      val arr = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => length(w) > 6).as("rare"))
      arr.select(col("doc_id"), explode_outer(col("rare")).as("rare_word"))
        .orderBy(col("doc_id"), coalesce(col("rare_word"), lit("~")))
    },
    Some("""WITH arr AS (
        SELECT doc_id, list_filter(string_split(text,' '), w -> len(w) > 6) AS rare
        FROM documents WHERE doc_id < 40)
      SELECT a.doc_id, u.w AS rare_word
      FROM arr a LEFT JOIN (SELECT doc_id, unnest(rare) AS w FROM arr) u
        ON a.doc_id = u.doc_id
      ORDER BY a.doc_id, coalesce(u.w, '~')"""),
    covers = Seq("A6-outer"))

  // ---------------------------------------------------- tumbling windows
  // Arbitrary-interval time bucketing with the native window()
  // function (15-minute tumbling) — the batch twin of the streaming
  // windowedCounts, epoch-aligned exactly like DuckDB's time_bucket.
  private val q123 = QueryDef(
    "q123_time_bucket",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type"),
    Some("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS w_start, event_type,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5-interval"))

  // ----------------------------------------- correlated aggregate (TPC-H Q17)
  // Small-quantity revenue against a PER-PART correlated average —
  // Catalyst decorrelates the scalar subquery into an aggregate +
  // join instead of re-running it per row. Quantity sums of small ints
  // are exact, so the 0.2×avg threshold is deterministic.
  private val q125 = QueryDef(
    "q125_correlated_avg",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("ca_l")
      t(s, dir, "part").createOrReplaceTempView("ca_p")
      s.sql("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
          AS avg_yearly,
        count(*) AS n_small
        FROM ca_l l JOIN ca_p p ON p_partkey = l_partkey
        WHERE p_size < 10
          AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM ca_l l2
                            WHERE l2.l_partkey = l.l_partkey)""")
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
        AS avg_yearly,
      CAST(count(*) AS BIGINT) AS n_small
      FROM lineitem l JOIN part p ON p_partkey = l_partkey
      WHERE p_size < 10
        AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)"""),
    covers = Seq("C2-correlated"))

  // -------------------------------------- multi-existential (TPC-H Q21)
  // Sole-failure suppliers: EXISTS another supplier on the order AND
  // NOT EXISTS another FAILING supplier — one semi- plus one anti-join
  // against the same fact after decorrelation, the hardest standard
  // subquery shape.
  private val q126 = QueryDef(
    "q126_sole_failure",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("sf_l")
      t(s, dir, "orders").createOrReplaceTempView("sf_o")
      t(s, dir, "supplier").createOrReplaceTempView("sf_s")
      s.sql("""SELECT s_name, count(*) AS numwait
        FROM sf_s, sf_l l1, sf_o
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM sf_l l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM sf_l l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name ORDER BY numwait DESC, s_name""")
    },
    Some("""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name"""),
    covers = Seq("C-multi-exists"))

  // -------------------------------------------------- relational division
  // "Orders whose EVERY line item satisfies P" — division via
  // NOT EXISTS a violating row, planned as an anti join (the FORALL
  // quantifier SQL lacks natively).
  private val q128 = QueryDef(
    "q128_relational_division",
    (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("rd_l")
      t(s, dir, "orders").createOrReplaceTempView("rd_o")
      s.sql("""SELECT o_orderkey, o_orderstatus, count(*) AS n_items
        FROM rd_o JOIN rd_l ON l_orderkey = o_orderkey
        WHERE NOT EXISTS (SELECT 1 FROM rd_l l2
                          WHERE l2.l_orderkey = o_orderkey
                            AND l2.l_returnflag <> 'N')
        GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_orderstatus, CAST(count(*) AS BIGINT) AS n_items
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = o_orderkey
                          AND l2.l_returnflag <> 'N')
      GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey"""),
    covers = Seq("C-division"))

  // -------------------------------------------------------- hopping windows
  // Overlapping (hopping) windows: 30-minute length sliding by 15 —
  // every event lands in TWO buckets via the native window() fan-out;
  // the oracle builds the same fan-out with an explicit 2-offset
  // unnest. Completes the window family (tumbling q123, session q84).
  private val q129 = QueryDef(
    "q129_hopping_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type"),
    Some("""WITH hop AS (
        SELECT event_type,
          time_bucket(INTERVAL 15 MINUTE, ts) - o * INTERVAL 15 MINUTE AS w_start
        FROM events, (SELECT unnest(range(0, 2)) AS o))
      SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n
      FROM hop GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A5-hopping"))

  // ------------------------------------------------ aggregate null matrix
  // Null semantics of the aggregate surface pinned on an ALL-NULL
  // group: count(*) counts rows, count(x) skips nulls, sum/min/max of
  // nothing are NULL (never 0) — the exact behaviors that silently
  // corrupt KPIs when an engine deviates.
  private val q130 = QueryDef(
    "q130_null_agg_matrix",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").as("pri"),
        when(col("o_orderpriority") === "5-LOW", lit(null))
          .otherwise(col("o_totalprice")).as("p"))
      o.groupBy("pri").agg(
          count(lit(1)).as("n_rows"),
          count(col("p")).as("n_vals"),
          sum(dec(col("p"))).cast("double").as("sum_p"),
          min(col("p")).as("min_p"),
          max(col("p")).as("max_p"),
          (count(lit(1)) - count(col("p"))).as("n_nulls"))
        .orderBy("pri")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS pri,
          CASE WHEN o_orderpriority = '5-LOW' THEN NULL ELSE o_totalprice END AS p
        FROM orders)
      SELECT pri, CAST(count(*) AS BIGINT) n_rows, CAST(count(p) AS BIGINT) n_vals,
        CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        min(p) AS min_p, max(p) AS max_p,
        CAST(count(*) - count(p) AS BIGINT) AS n_nulls
      FROM o GROUP BY pri ORDER BY pri"""),
    covers = Seq("A-null-matrix"))

  // ------------------------------------------------------------- funnel
  // Ordered conversion funnel with per-step deadlines: first signup →
  // first click within 48 h → first purchase within 96 h of that
  // click. Each step joins only the previous step's survivors on the
  // key (no window over raw events), which is the funnel shape that
  // scales; min() timestamps make every step deterministic.
  private val q132 = QueryDef(
    "q132_funnel",
    (s, dir) => {
      val e = t(s, dir, "events")
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 48 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 96 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_clicked_48h")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchased_96h")))
    },
    Some("""WITH s AS (SELECT user_id, min(ts) t1 FROM events
               WHERE event_type='signup' GROUP BY 1),
      c AS (SELECT e.user_id, min(ts) t2 FROM events e JOIN s ON e.user_id = s.user_id
            WHERE event_type='click' AND ts > t1 AND ts <= t1 + INTERVAL 48 HOUR
            GROUP BY 1),
      p AS (SELECT e.user_id, min(ts) t3 FROM events e JOIN c ON e.user_id = c.user_id
            WHERE event_type='purchase' AND ts > t2 AND ts <= t2 + INTERVAL 96 HOUR
            GROUP BY 1)
      SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
             CAST((SELECT count(*) FROM c) AS BIGINT) AS n_clicked_48h,
             CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchased_96h"""),
    covers = Seq("A-funnel"))

  // ------------------------------------------------------ cohort retention
  // Weekly cohort retention: users grouped by first-activity week,
  // counted distinct-active at each week offset — the classic
  // retention triangle, all integer epoch arithmetic (UTC day
  // boundaries, DIV week buckets) so both engines agree exactly.
  private val q133 = QueryDef(
    "q133_cohort_retention",
    (s, dir) => {
      val e = t(s, dir, "events")
      val first = e.groupBy("user_id").agg(to_date(min(col("ts"))).as("d0"))
      val act = e.join(first, "user_id")
        .select(col("user_id"),
          expr("unix_timestamp(CAST(d0 AS TIMESTAMP)) DIV 604800").as("cohort_week"),
          expr("(unix_timestamp(CAST(to_date(ts) AS TIMESTAMP)) - " +
            "unix_timestamp(CAST(d0 AS TIMESTAMP))) DIV 604800").as("week_offset"))
        .distinct()
      act.groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH first AS (
        SELECT user_id, CAST(min(ts) AS DATE) d0 FROM events GROUP BY 1),
      act AS (
        SELECT DISTINCT e.user_id,
          CAST(epoch(CAST(f.d0 AS TIMESTAMP)) AS BIGINT) // 604800 AS cohort_week,
          (CAST(epoch(CAST(CAST(e.ts AS DATE) AS TIMESTAMP)) AS BIGINT) -
           CAST(epoch(CAST(f.d0 AS TIMESTAMP)) AS BIGINT)) // 604800 AS week_offset
        FROM events e JOIN first f ON e.user_id = f.user_id)
      SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        CAST(week_offset AS BIGINT) AS week_offset,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM act GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A-cohort"))

  // ----------------------------------------------------- calendar edges
  // Month-arithmetic edge semantics pinned: month-end clamping (Jan 31
  // + 1 month = Feb 28/29, incl. across leap years via last_day),
  // month truncation, day diffs, quarters — the calendar behaviors
  // that silently skew period-over-period reports when engines
  // disagree (q19 gates the everyday date surface).
  private val q134 = QueryDef(
    "q134_calendar_edges",
    (s, dir) =>
      t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("dt")).distinct()
        .select(col("dt"),
          add_months(col("dt"), 1).as("plus_month"),
          last_day(col("dt")).as("month_end"),
          add_months(last_day(col("dt")), 1).as("clamped_next"),
          trunc(col("dt"), "month").as("month_start"),
          datediff(col("dt"), lit("2024-01-01").cast("date")).cast(LongType)
            .as("days_since_jan1"),
          quarter(col("dt")).cast(LongType).as("qtr"))
        .orderBy("dt"),
    Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders)
      SELECT dt,
        CAST(dt + INTERVAL 1 MONTH AS DATE) AS plus_month,
        last_day(dt) AS month_end,
        CAST(last_day(dt) + INTERVAL 1 MONTH AS DATE) AS clamped_next,
        CAST(date_trunc('month', dt) AS DATE) AS month_start,
        CAST(date_diff('day', DATE '2024-01-01', dt) AS BIGINT) AS days_since_jan1,
        CAST(date_part('quarter', dt) AS BIGINT) AS qtr
      FROM d ORDER BY dt"""),
    covers = Seq("D-calendar"))

  // ------------------------------------------------- forward-looking frame
  // A strictly-ahead window frame (1 FOLLOWING..3 FOLLOWING): look-ahead
  // aggregation whose frame EXCLUDES the current row — empty frames at
  // partition tails must yield NULL sums and 0 counts, pinned.
  private val q135 = QueryDef(
    "q135_forward_frame",
    (s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in this corpus (q110
      // proves it) — the window order needs the full attribute
      // tiebreak, and rows identical on every sort column are
      // interchangeable (same quantity ⇒ same frame sums)
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_suppkey", "l_partkey", "l_quantity", "l_extendedprice")
        .rowsBetween(1, 3)
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"),
          sum(col("l_quantity").cast(LongType)).over(w).as("qty_ahead"),
          count(lit(1)).over(w).as("n_ahead"))
        .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "qty_ahead", "n_ahead")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_suppkey,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice
          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS qty_ahead,
        CAST(count(*) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_suppkey, l_partkey, l_quantity, l_extendedprice
          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS n_ahead
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_suppkey, qty_ahead, n_ahead"""),
    covers = Seq("W-forward-frame"))

  // ------------------------------------------------- point-in-interval join
  // Event-to-enclosing-window assignment via the equi-shaped
  // RangeJoin.pointInInterval (points carry ONE bin, intervals explode
  // theirs — no nested loop, no dedup): clicks inside each user's
  // first-72-hours window, aggregated. Oracle is the plain theta join.
  private val q136 = QueryDef(
    "q136_point_in_interval",
    (s, dir) => {
      val e = t(s, dir, "events")
      val iv = e.groupBy("user_id").agg(min(col("ts")).as("s"))
        .withColumn("e", col("s") + expr("INTERVAL 72 HOURS"))
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      graft.operators.RangeJoin
        .pointInInterval(clicks, "ts", iv, "s", "e",
          keys = Seq("user_id"), binMinutes = 720)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_in_window"),
          sum(dec(col("value"))).cast("double")
            .as("val_in_window"))
        .orderBy("user_id")
    },
    Some("""WITH iv AS (SELECT user_id, min(ts) s, min(ts) + INTERVAL 72 HOUR e
               FROM events GROUP BY 1)
      SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_in_window,
        CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS val_in_window
      FROM events e JOIN iv ON e.user_id = iv.user_id
        AND e.ts >= iv.s AND e.ts < iv.e
      WHERE e.event_type = 'click'
      GROUP BY e.user_id ORDER BY e.user_id"""),
    covers = Seq("J2-point"))

  // ---------------------------------------------------- gaps and islands
  // Consecutive-day activity streaks (gaps-and-islands): date minus
  // per-user row_number is constant within an unbroken run, so one
  // window pass + one group-by finds every island — no self-joins, no
  // iteration. Streak analytics over integer date arithmetic.
  private val q137 = QueryDef(
    "q137_streaks",
    (s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val anchor = date_sub(col("d"),
        row_number().over(Window.partitionBy("user_id").orderBy("d")))
      days.withColumn("anchor", anchor)
        .groupBy("user_id", "anchor")
        .agg(min(col("d")).as("streak_start"), max(col("d")).as("streak_end"),
          count(lit(1)).as("streak_days"))
        .filter(col("streak_days") >= 3)
        .select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy("user_id", "streak_start")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events),
      grp AS (SELECT user_id, d,
        CAST(d AS DATE) - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
          AS INTEGER) AS anchor
        FROM days)
      SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
        CAST(count(*) AS BIGINT) AS streak_days
      FROM grp GROUP BY user_id, anchor
      HAVING count(*) >= 3
      ORDER BY user_id, streak_start"""),
    covers = Seq("W-islands"))

  // ---------------------------------------------- cumulative distinct users
  // Running count of DISTINCT users over time — windows cannot count
  // distinct cumulatively, so the scalable form is the
  // first-occurrence trick: each user contributes on their first day
  // only, and a running SUM of those contributions IS the cumulative
  // distinct count. O(n) instead of re-deduping every prefix.
  private val q138 = QueryDef(
    "q138_cumulative_distinct",
    (s, dir) => {
      val e = t(s, dir, "events")
      val daily = e.groupBy("user_id").agg(to_date(min(col("ts"))).as("d"))
        .groupBy("d").agg(count(lit(1)).as("n_new"))
      val allDays = e.select(to_date(col("ts")).as("d")).distinct()
      val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
      allDays.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_unique_users", sum(col("n_new")).over(w))
        .orderBy("d")
    },
    Some("""WITH firsts AS (
        SELECT CAST(min(ts) AS DATE) AS d FROM events GROUP BY user_id),
      daily AS (SELECT d, CAST(count(*) AS BIGINT) n_new FROM firsts GROUP BY d),
      alldays AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
      SELECT a.d, coalesce(n_new, 0) AS n_new,
        CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY a.d ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum_unique_users
      FROM alldays a LEFT JOIN daily ON a.d = daily.d
      ORDER BY a.d"""),
    covers = Seq("W-cumulative-distinct", "A3"))

  // ---------------------------------------- distribution window functions
  // ntile / percent_rank / cume_dist — the distribution tail of the
  // window surface (q61 gates the navigation tail). The window is
  // computed over the FULL partition and only the output is
  // decimated, so the gate exercises real partition-wide state.
  // percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
  // int/int double divisions — bit-identical across engines; ntile is
  // INT in Spark, BIGINT in DuckDB → cast Spark side.
  private val q140 = QueryDef(
    "q140_dist_windows",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .filter(col("o_orderkey") % 50 === 0)
        .orderBy("o_orderpriority", "o_orderkey")
    },
    Some("""SELECT * FROM (
        SELECT o_orderpriority, o_orderkey,
          CAST(ntile(4) OVER w AS BIGINT) AS quartile,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
      WHERE o_orderkey % 50 = 0
      ORDER BY o_orderpriority, o_orderkey"""),
    covers = Seq("W-distribution"))

  // Shared scaffold for the robust-statistics gates: per-priority
  // value rank (unique tiebreak) + partition size + exact DECIMAL
  // value, one window pass.
  private def ranked(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice"), col("o_orderkey"))
    val wp = Window.partitionBy("o_orderpriority")
    t(s, dir, "orders").select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      col("o_totalprice").cast("decimal(18,2)").as("x"),
      row_number().over(w).as("i"),
      count(lit(1)).over(wp).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w).as("cum"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(wp).as("tot"))
  }

  // ------------------------------------------------------ weighted median
  // Mass-weighted median: the smallest value whose cumulative DECIMAL
  // mass reaches half the stratum total (2·cum ≥ tot — exact decimal
  // comparison, no float midpoint). The robust location statistic a
  // quality pipeline uses where outliers make the mean useless; one
  // window pass + one aggregate.
  private val q144 = QueryDef(
    "q144_weighted_median",
    (s, dir) =>
      ranked(s, dir)
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("o_orderpriority")
        .agg(min(col("o_totalprice")).as("weighted_median"))
        .orderBy("o_orderpriority"),
    Some("""WITH w AS (
        SELECT o_orderpriority, o_totalprice,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) cum,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_orderpriority) tot
        FROM orders)
      SELECT o_orderpriority, min(o_totalprice) AS weighted_median
      FROM w WHERE 2 * cum >= tot GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust"))

  // ---------------------------------------------------- Gini concentration
  // Gini coefficient per stratum from the sorted-rank identity
  // Σ(2i−n−1)·xᵢ / (n·Σxᵢ): the numerator is an exact DECIMAL sum
  // (rank weights are integers), so the single final division is the
  // only float op — bit-identical across engines. The inequality
  // measure behind "is this source dominated by a few giant
  // documents" curation checks (q69/q143 measure the count side;
  // this measures mass concentration).
  private val q145 = QueryDef(
    "q145_gini",
    (s, dir) =>
      ranked(s, dir)
        .groupBy("o_orderpriority", "n")
        .agg((sum((col("i") * 2 - col("n") - 1) * col("x")).cast("double") /
          (col("n") * sum(col("x")).cast("double"))).as("gini"))
        .select("o_orderpriority", "gini")
        .orderBy("o_orderpriority"),
    Some("""WITH r AS (
        SELECT o_orderpriority,
          CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders)
      SELECT o_orderpriority,
        CAST(SUM((2*i - n - 1) * x) AS DOUBLE) / (CAST(n AS BIGINT) * CAST(SUM(x) AS DOUBLE)) AS gini
      FROM r GROUP BY o_orderpriority, n ORDER BY 1"""),
    covers = Seq("A-robust"))

  // -------------------------------------------------------- winsorization
  // Outlier clipping at exact P1/P99 order statistics — k = ceil(p·n)
  // in integer arithmetic (interpolating percentiles are only
  // cross-engine-exact at dyadic fractions, order statistics always
  // are). Reports the clip bounds, how many rows hit each side, and
  // the winsorized mass; the standard tail-taming step before
  // training on heavy-tailed quality scores.
  private val q146 = QueryDef(
    "q146_winsorize",
    (s, dir) => {
      val r = ranked(s, dir)
      val b = r.groupBy(col("o_orderpriority").as("p"))
        .agg(
          max(when(col("i") === expr("(n + 99) DIV 100"), col("x"))).as("lo"),
          max(when(col("i") === expr("(99 * n + 99) DIV 100"), col("x"))).as("hi"))
      r.join(broadcast(b), col("o_orderpriority") === col("p"))
        .groupBy("o_orderpriority")
        .agg(
          max(col("lo")).cast("double").as("lo"),
          max(col("hi")).cast("double").as("hi"),
          sum(when(col("x") < col("lo"), 1).otherwise(0)).as("n_lo"),
          sum(when(col("x") > col("hi"), 1).otherwise(0)).as("n_hi"),
          sum(greatest(col("lo"), least(col("hi"), col("x")))).cast("double").as("winsorized_mass"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH r AS (
        SELECT o_orderpriority,
          CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders),
      b AS (
        SELECT o_orderpriority,
          MAX(CASE WHEN i = (n + 99) // 100 THEN x END) lo,
          MAX(CASE WHEN i = (99*n + 99) // 100 THEN x END) hi
        FROM r GROUP BY 1)
      SELECT r.o_orderpriority,
        CAST(MAX(lo) AS DOUBLE) lo, CAST(MAX(hi) AS DOUBLE) hi,
        CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) n_lo,
        CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) n_hi,
        -- DuckDB GREATEST/LEAST promote DECIMAL to DOUBLE; the cast
        -- back to DECIMAL(18,2) restores the exact clamped value so
        -- the sum stays exact like Spark's decimal sum
        CAST(SUM(CAST(GREATEST(lo, LEAST(hi, x)) AS DECIMAL(18,2))) AS DOUBLE) winsorized_mass
      FROM r JOIN b USING (o_orderpriority)
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust", "P10"))

  // ------------------------------------------------------- interval merge
  // Union of overlapping intervals (30-min activity windows per
  // user): the classic coverage question — how many distinct
  // episodes, how much wall-clock covered — solved with the
  // cumulative-max island trick in exact microsecond integers. One
  // shuffle on the partition key; no self-join.
  private val q149 = QueryDef(
    "q149_interval_merge",
    (s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("st", "en")
      val iv = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) + 1800L * 1000000L).as("en"))
      iv.withColumn("new_island",
          when(col("st") > max(col("en")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), 1).otherwise(0))
        .withColumn("island", sum(col("new_island")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min(col("st")).as("s"), max(col("en")).as("e"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_episodes"), sum(col("e") - col("s")).as("tot_us"))
        .select(col("user_id"), col("n_episodes"),
          expr("tot_us DIV 1000000").as("covered_s"))
        .orderBy("user_id")
    },
    Some("""WITH iv AS (
        SELECT user_id, epoch_us(ts) s, epoch_us(ts) + 1800 * 1000000 e FROM events),
      m AS (
        SELECT user_id, s, e,
          CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS new_island
        FROM iv),
      g AS (
        SELECT user_id, s, e,
          SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM m),
      isl AS (SELECT user_id, island, min(s) st, max(e) en FROM g GROUP BY 1, 2)
      SELECT user_id, CAST(count(*) AS BIGINT) n_episodes,
        CAST(SUM(en - st) // 1000000 AS BIGINT) covered_s
      FROM isl GROUP BY 1 ORDER BY 1"""),
    covers = Seq("W-islands", "P6"))

  // -------------------------------------------------- median absolute deviation
  // MAD — the robust scale companion to q144/q146: lower-median order
  // statistic (k = ceil(n/2), integer arith — interpolation-free) of
  // x, then the same order statistic of |x − med|. Two window passes,
  // both decimal-exact; doubles only at the final projection.
  private val q150 = QueryDef(
    "q150_mad",
    (s, dir) => {
      val r = ranked(s, dir)
      val med = r.groupBy(col("o_orderpriority").as("p"))
        .agg(max(when(col("i") === expr("(n + 1) DIV 2"), col("x"))).as("med"))
      val wDev = Window.partitionBy("o_orderpriority").orderBy(abs(col("x") - col("med")), col("i"))
      r.join(broadcast(med), col("o_orderpriority") === col("p"))
        .withColumn("j", row_number().over(wDev))
        .groupBy("o_orderpriority")
        .agg(max(col("med")).cast("double").as("med"),
          max(when(col("j") === expr("(n + 1) DIV 2"),
            abs(col("x") - col("med")))).cast("double").as("mad"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH r AS (
        SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) x,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) i,
          count(*) OVER (PARTITION BY o_orderpriority) n
        FROM orders),
      med AS (SELECT o_orderpriority, MAX(CASE WHEN i = (n+1)//2 THEN x END) med
              FROM r GROUP BY 1),
      d AS (
        SELECT r.o_orderpriority, ABS(x - med) dev, med, n,
          row_number() OVER (PARTITION BY r.o_orderpriority ORDER BY ABS(x - med), i) j
        FROM r JOIN med USING (o_orderpriority))
      SELECT o_orderpriority,
        CAST(MAX(med) AS DOUBLE) med,
        CAST(MAX(CASE WHEN j = (n+1)//2 THEN dev END) AS DOUBLE) mad
      FROM d GROUP BY 1 ORDER BY 1"""),
    covers = Seq("A-robust"))

  // --------------------------------------------------- TPC-H Q3 shape
  // Shipping-priority: selective dim filter (customer segment,
  // broadcast), two date range filters pushed into the fact scans,
  // one fact⋈fact equi-join (orders⋈lineitem on orderkey), top-10 by
  // revenue. THE canonical "filter early, broadcast the dim, shuffle
  // only the fact join" plan: at 100 TB the only wide exchange is
  // lineitem⋈orders on the join key, and both scans carry their date
  // predicate as a pushed parquet filter. Revenue sums are exact
  // DECIMAL(18,2)·(1−disc) products (scale 4), so partial aggregation
  // order cannot change a bit.
  private val q153 = QueryDef(
    "q153_tpch_q3",
    (s, dir) => {
      val cutoff = lit("1998-06-15").cast("timestamp")
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-15'
        AND l_shipdate  > TIMESTAMP '1998-06-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""),
    covers = Seq("J1", "A4"))

  // --------------------------------------------------- TPC-H Q5 shape
  // Local-supplier volume: a 6-table snowflake join where region →
  // nation → {customer, supplier} are all broadcast dims and the only
  // shuffles are the fact-side equi-joins, plus the non-key predicate
  // c_nationkey = s_nationkey that makes the join "local". The shape
  // that proves multi-way join planning: every dim is broadcast, the
  // date filter is pushed into the orders scan, and the final group-by
  // is 25 nations wide.
  private val q154 = QueryDef(
    "q154_tpch_q5",
    (s, dir) => {
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      val region = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val nation = t(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val customer = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supplier = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val lineitem = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },
    Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    covers = Seq("J1", "A4"))

  // -------------------------------------------------- TPC-H Q18 shape
  // Large-volume customers: HAVING-filtered aggregate over the fact
  // (orders whose lineitems sum past a quantity threshold) joined back
  // to the order/customer detail. The aggregate-then-join pattern:
  // the group-by collapses lineitem to one row per order BEFORE any
  // join, so the join input is already small — at 100 TB the
  // alternative (join first, aggregate later) is strictly worse.
  private val q155 = QueryDef(
    "q155_tpch_q18",
    (s, dir) => {
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      FROM (SELECT l_orderkey,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300) big
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey  = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100"""),
    covers = Seq("A4", "SUBQ-having"))

  // --------------------------------------------- equi-depth histogram
  // Per-group equi-depth (equal-count) buckets via partitioned ntile:
  // bucket boundaries adapt to the distribution (where equi-WIDTH q73
  // wastes bins on empty ranges). Partitioned by priority so every
  // window fits one executor's partition — the global-sort variant
  // would single-thread at scale (cf. SCALING.md); per-key histograms
  // are what a stats collector actually stores.
  private val q159 = QueryDef(
    "q159_equidepth_hist",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          ntile(8).over(w).cast("long").as("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"),
          min(dec(col("o_totalprice"))).cast("double").as("lo"),
          max(dec(col("o_totalprice"))).cast("double").as("hi"))
        .orderBy("o_orderpriority", "bucket")
    },
    Some("""SELECT o_orderpriority, bucket,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
      FROM (SELECT o_orderpriority, o_totalprice,
              ntile(8) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders)
      GROUP BY o_orderpriority, bucket
      ORDER BY o_orderpriority, bucket"""),
    covers = Seq("A-histogram", "W-distribution"))

  // ------------------------------------------------- discrete percentiles
  // PERCENTILE_DISC: the quantile that must be an actual data value
  // (order statistic), vs q50's interpolated PERCENTILE_CONT. No
  // interpolation means no float arithmetic at all — the gate is
  // exact for ANY fraction, not just dyadic ones. Spark 4 has the
  // ANSI WITHIN GROUP syntax natively; DuckDB's quantile_disc is the
  // same order statistic (smallest value with cumulative fraction
  // ≥ p).
  private val q164 = QueryDef(
    "q164_percentile_disc",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // graft.operators.ExactQuantiles rank-selects over the DISTINCT
      // value frame (l_quantity has ~50 distinct values — the count
      // pre-agg collapses 600k rows to 150) instead of the built-in's
      // four independent per-group value buffers; selection is
      // bit-identical to percentile_disc (ExactQuantilesSpec).
      // Regime note (same-JVM A/B): few large groups — the built-in
      // buffer loses one decade up (sf1: 5.3 s vs 4.3 s) while
      // costing slightly less at sf0.1; the scale shape ships
      val qty = graft.operators.ExactQuantiles.disc(
        li, Seq("l_returnflag"), "l_quantity",
        Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)))
      val price = graft.operators.ExactQuantiles.disc(
        li, Seq("l_returnflag"), "l_extendedprice", Seq(("price_p99", 0.99)))
      qty.join(price, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p10"), col("p50"), col("p90"),
          col("price_p99"), qty.col("__group_n").as("n"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
        quantile_disc(l_quantity, 0.1) AS p10,
        quantile_disc(l_quantity, 0.5) AS p50,
        quantile_disc(l_quantity, 0.9) AS p90,
        quantile_disc(l_extendedprice, 0.99) AS price_p99,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A-percentile-disc"))

  // ------------------------------------- EXCLUDE CURRENT ROW emulation
  // Leave-one-out rolling stats: each day's revenue against the
  // surrounding ±3-day window EXCLUDING itself — the anomaly-baseline
  // window shape. Spark has no EXCLUDE clause, so the engine computes
  // the full ±3 frame once and subtracts the current row (sum − x,
  // count − 1): same single window pass, two extra codegen'd
  // arithmetic ops, NO second frame. The oracle uses DuckDB's native
  // `EXCLUDE CURRENT ROW` — hash-equality proves the emulation exact.
  // Sums are DECIMAL so the subtraction is exact; the loo average is
  // one shared double division.
  private val q165 = QueryDef(
    "q165_window_exclude",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.partitionBy("prio").orderBy("d").rowsBetween(-3, 3)
      daily
        .withColumn("frame_rev", sum(col("rev")).over(w).cast(DecimalType(38, 2)))
        .withColumn("frame_n", count(lit(1)).over(w))
        .select(col("prio"), col("d"),
          col("rev").cast("double").as("rev"),
          (col("frame_rev") - col("rev")).cast("double").as("loo_rev"),
          ((col("frame_rev") - col("rev")).cast("double") /
            (col("frame_n") - 1)).as("loo_avg"))
        .filter(dayofmonth(col("d")) === 1)
        .orderBy("prio", "d")
    },
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      loo AS (
        SELECT prio, d, rev,
          SUM(rev) OVER w_ex AS loo_rev,
          COUNT(*) OVER w_ex AS loo_n
        FROM daily
        WINDOW w_ex AS (PARTITION BY prio ORDER BY d
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW))
      SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
        CAST(loo_rev AS DOUBLE) AS loo_rev,
        CAST(loo_rev AS DOUBLE) / loo_n AS loo_avg
      FROM loo WHERE date_part('day', d) = 1
      ORDER BY prio, d"""),
    covers = Seq("W-exclude"))

  // ------------------------------------------- event-transition matrix
  // First-order Markov transition counts over each user's event
  // sequence: lag() within (user, time) order builds the (prev → next)
  // pairs, one groupBy counts them, and each transition's probability
  // is its count over the source state's outgoing total (window sum —
  // exact int/int division). The per-user window partitions by
  // user_id, so state never concentrates; this is the
  // session-analytics shape that degenerates to a driver loop in
  // row-at-a-time engines.
  private val q167 = QueryDef(
    "q167_markov_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t(s, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
      val counts = pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("out_total",
          sum(col("n")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast("double") / col("out_total")).as("p"))
        .orderBy("prev_type", "next_type")
    },
    Some("""WITH pairs AS (
        SELECT user_id, event_type AS next_type,
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
      counts AS (
        SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type)
      SELECT prev_type, next_type, n,
        CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
      FROM counts
      ORDER BY prev_type, next_type"""),
    covers = Seq("A-markov"))

  // ------------------------------------------ TPC-H Q10 returned items
  // The returned-item revenue report: lineitem filtered to returns ⋈
  // orders (one quarter) ⋈ customer ⋈ nation, revenue aggregated per
  // customer, top 20. The canonical "two facts + two dims" shape: both
  // dims broadcast, the fact⋈fact join shuffles only the quarter's
  // orders, and the final top-k is TakeOrderedAndProject — no global
  // sort. Revenue = Σ price·(1−disc) in DECIMAL, surfaced once as
  // double.
  private val q168 = QueryDef(
    "q168_tpch_q10",
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
          max(col("c_acctbal")).as("acctbal"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        MAX(c_acctbal) AS acctbal
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1999-01-01'
        AND o_orderdate <  TIMESTAMP '1999-04-01'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    covers = Seq("J-tpch-q10"))

  // ------------------------------------------------- TPC-H Q7 volume
  // Nation-pair shipping volume: revenue flowing between two specific
  // nations per ship year, in both directions. Supplier, nation and
  // customer sides resolve via broadcast joins (dims); the single
  // data-sized exchange is lineitem⋈orders on orderkey. The nation
  // filter lands on the BROADCAST side before the join, so at 100 TB
  // the fact rows of the 23 uninvolved nations are dropped by the
  // (tiny) hash-table probe, never shuffled.
  private val q169 = QueryDef(
    "q169_tpch_q7",
    (s, dir) => {
      val nat = t(s, dir, "nation")
      val suppN = t(s, dir, "supplier")
        .join(nat.filter(col("n_name").isin("NATION_3", "NATION_8")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = t(s, dir, "customer")
        .join(nat.filter(col("n_name").isin("NATION_3", "NATION_8")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        date_part('year', l_shipdate) AS l_year,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE sn.n_name IN ('NATION_3', 'NATION_8')
        AND cn.n_name IN ('NATION_3', 'NATION_8')
        AND sn.n_name <> cn.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    covers = Seq("J-tpch-q7"))

  // ------------------------------------------- TPC-H Q8 market share
  // National market share: of all PROMO-part revenue sold to customers
  // in EUROPE, the fraction supplied by NATION_8, per order year.
  // Share = conditional DECIMAL sum / total DECIMAL sum, divided once
  // as double (the engine-wide one-IEEE-tree rule). Every dimension
  // (part, supplier→nation, customer→nation→region) broadcasts; the
  // one shuffle is lineitem⋈orders.
  private val q170 = QueryDef(
    "q170_tpch_q8",
    (s, dir) => {
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val partP = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val suppN = t(s, dir, "supplier")
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custEu = t(s, dir, "customer")
        .join(nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .join(broadcast(custEu), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(partP), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_year")
        .agg(
          (sum(when(col("supp_nation") === "NATION_8", col("rev"))
            .otherwise(dec(lit(0)))).cast("double") /
            sum(col("rev")).cast("double")).as("mkt_share"),
          sum(col("rev")).cast("double").as("total_rev"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    },
    Some("""SELECT date_part('year', o_orderdate) AS o_year,
        CAST(SUM(CASE WHEN sn.n_name = 'NATION_8'
              THEN CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("J-tpch-q8"))

  // ------------------------------------------- TPC-H Q14 promo share
  // Promo revenue share per ship month: one fact scan, one broadcast
  // part join, conditional-over-total DECIMAL sums surfaced by a
  // single double division. The month bucket comes from date_trunc so
  // partition pruning on a month-partitioned lineitem would kick in
  // unchanged.
  private val q171 = QueryDef(
    "q171_tpch_q14",
    (s, dir) => {
      val partT = t(s, dir, "part").select("p_partkey", "p_type")
      t(s, dir, "lineitem")
        .select(col("l_partkey"),
          date_trunc("month", col("l_shipdate")).as("ship_month"),
          (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev"))
        .join(broadcast(partT), col("l_partkey") === col("p_partkey"))
        .groupBy("ship_month")
        .agg(
          (lit(100).cast("double") *
            sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(dec(lit(0)))).cast("double") /
            sum(col("rev")).cast("double")).as("promo_share"),
          sum(col("rev")).cast("double").as("total_rev"),
          count(lit(1)).as("n_items"))
        .orderBy("ship_month")
    },
    Some("""SELECT date_trunc('month', l_shipdate) AS ship_month,
        CAST(100 AS DOUBLE) * CAST(SUM(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))
            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_share,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("J-tpch-q14"))

  // ------------------------------------------------ map HOF surface
  // Map lambdas over the per-doc term-frequency map (q70 builds it;
  // here it is transformed in place): map_filter selects repeated
  // terms, transform_values squares counts (Σc², the Simpson
  // numerator, via one aggregate over map_values), transform_keys
  // rewrites keys. All per-row — zero shuffle beyond the tf groupBy
  // — which is why map HOFs beat explode-transform-reaggregate for
  // per-doc feature maps at corpus scale. The oracle computes the
  // same facts straight from the tf table (DuckDB's map lambda
  // surface differs; the CONTRACT is on values, not plan shape).
  private val q172 = QueryDef(
    "q172_map_hofs",
    (s, dir) => {
      val tok = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val m = tf.groupBy("doc_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("term"), col("c"))))).as("tfm"))
      m.select(
          col("doc_id"),
          size(col("tfm")).as("n_terms"),
          size(map_filter(col("tfm"), (_, v) => v >= 2)).as("n_repeated"),
          aggregate(map_values(transform_values(col("tfm"), (_, v) => v * v)),
            lit(0L), (acc, v) => acc + v).as("sq_mass"),
          array_max(map_keys(transform_keys(col("tfm"),
            (k, _) => upper(k)))).as("max_upper_key"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id % 3 = 0),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2)
      SELECT doc_id,
        CAST(COUNT(*) AS INTEGER) AS n_terms,
        CAST(COUNT(*) FILTER (WHERE c >= 2) AS INTEGER) AS n_repeated,
        CAST(SUM(c * c) AS BIGINT) AS sq_mass,
        MAX(upper(term)) AS max_upper_key
      FROM tf GROUP BY doc_id ORDER BY doc_id"""),
    covers = Seq("MAP-hofs"))

  // ------------------------------------- timestamp-interval RANGE frame
  // RANGE BETWEEN INTERVAL ... PRECEDING over an actual timestamp
  // ORDER BY — the value-based frame where gaps in the calendar
  // matter (q53 gates the numeric-epoch emulation; this is the
  // native SQL-syntax form on both engines). Trailing 7-day revenue
  // per priority over gapped daily buckets; sums stay DECIMAL inside
  // the frame, surfaced once as double.
  private val q178 = QueryDef(
    "q178_interval_frame",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH daily AS (
          SELECT o_orderpriority AS prio, to_date(o_orderdate) AS d,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1, 2),
        fr AS (
          SELECT prio, d, rev,
            SUM(rev) OVER w AS rev_7d,
            COUNT(*) OVER w AS n_days_7d
          FROM daily
          WINDOW w AS (PARTITION BY prio ORDER BY CAST(d AS TIMESTAMP)
            RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW))
        SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
          CAST(rev_7d AS DOUBLE) AS rev_7d, n_days_7d
        FROM fr WHERE day(d) = 1
        ORDER BY prio, d""")
    },
    Some("""WITH daily AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      fr AS (
        SELECT prio, d, rev,
          SUM(rev) OVER w AS rev_7d,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d
        FROM daily
        WINDOW w AS (PARTITION BY prio ORDER BY CAST(d AS TIMESTAMP)
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW))
      SELECT prio, d, CAST(rev AS DOUBLE) AS rev,
        CAST(rev_7d AS DOUBLE) AS rev_7d, n_days_7d
      FROM fr WHERE date_part('day', d) = 1
      ORDER BY prio, d"""),
    covers = Seq("W-interval-frame"))

  // ------------------------------------------------- SQL PIVOT syntax
  // The SQL-parser PIVOT surface (q44 gates the DataFrame .pivot
  // path, q118 the discovered-value path): orders pivoted to one
  // column per status, per priority. The Spark side runs actual
  // `PIVOT (... FOR ... IN ...)` SQL; the oracle spells the same
  // contract as conditional aggregation.
  private val q179 = QueryDef(
    "q179_sql_pivot",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT prio,
          CAST(o_rev AS DOUBLE) AS o_rev, o_n,
          CAST(f_rev AS DOUBLE) AS f_rev, f_n,
          CAST(p_rev AS DOUBLE) AS p_rev, p_n
        FROM (
          SELECT o_orderpriority AS prio, o_orderstatus AS st,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders)
        PIVOT (
          SUM(price) AS rev, COUNT(price) AS n
          FOR st IN ('O' AS o, 'F' AS f, 'P' AS p))
        ORDER BY prio""")
    },
    Some("""SELECT o_orderpriority AS prio,
        CAST(SUM(CASE WHEN o_orderstatus = 'O'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
        CAST(SUM(CASE WHEN o_orderstatus = 'F'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
        CAST(SUM(CASE WHEN o_orderstatus = 'P'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_rev,
        CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n
      FROM orders GROUP BY 1 ORDER BY 1"""),
    covers = Seq("SQL-pivot"))

  // ------------------------------------------- timezone day bucketing
  // The reference's real timezone hazard (SURVEY §7.4 risk 3): events
  // stored as UTC instants but reported by Dutch business day. Local
  // day = from_utc_timestamp(ts, Europe/Amsterdam) — a per-row
  // expression using the JVM's IANA tzdata, so DST transitions (+1
  // winter, +2 summer) are handled by rules, not offset arithmetic.
  // n_shifted counts the midnight-band rows whose UTC date differs
  // from the local date — exactly the rows a naive UTC DATE() bucket
  // misfiles. The oracle converts with DuckDB's own tzdata
  // (timezone('Europe/Amsterdam', timezone('UTC', ts))) — agreement
  // proves both engines apply the same rules, DST edges included.
  private val q180 = QueryDef(
    "q180_tz_bucket",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("local_d",
          to_date(from_utc_timestamp(col("ts"), "Europe/Amsterdam")))
        .withColumn("utc_d", to_date(col("ts")))
      ev.groupBy("local_d")
        .agg(count(lit(1)).as("n"),
          sum(when(col("local_d") =!= col("utc_d"), 1L).otherwise(0L))
            .as("n_shifted"))
        .orderBy("local_d")
    },
    Some("""WITH ev AS (
        SELECT CAST(timezone('Europe/Amsterdam', timezone('UTC', ts)) AS DATE) AS local_d,
               CAST(ts AS DATE) AS utc_d
        FROM events)
      SELECT local_d,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN local_d <> utc_d THEN 1 ELSE 0 END) AS BIGINT) AS n_shifted
      FROM ev GROUP BY local_d
      ORDER BY local_d"""),
    covers = Seq("TZ-bucketing"))

  // Array outputs surface as sorted joined strings so the hash compare is
  // representation-independent.

  // -------------------------------------------------- SQL UNPIVOT syntax
  // The SQL-parser UNPIVOT surface (q60 gates the DataFrame melt):
  // part's two numeric measures rotate to (measure, val) rows which
  // then aggregate per measure — wide-to-long without a UNION ALL
  // double-scan. Spark coerces the measure columns to their common
  // type (int → double, exact), so values hash-match the oracle's
  // hand-spelled UNION ALL.
  private val q181 = QueryDef(
    "q181_sql_unpivot",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT measure,
          COUNT(*) AS n,
          MIN(val) AS mn, MAX(val) AS mx,
          CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM (
          SELECT p_brand, p_size, p_retailprice FROM part)
        UNPIVOT (val FOR measure IN (p_size, p_retailprice))
        GROUP BY measure ORDER BY measure""")
    },
    Some("""WITH long AS (
        SELECT 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT 'p_retailprice', p_retailprice FROM part)
      SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(val) AS mn, MAX(val) AS mx,
        CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM long GROUP BY measure ORDER BY measure"""),
    covers = Seq("SQL-unpivot"))

  // -------------------------------------------------- array set algebra
  // Per-row set algebra over token arrays — union / intersect /
  // except with distinct semantics, all narrow (no explode, no
  // shuffle): the in-row form of vocabulary comparison that would
  // otherwise cost two explodes and a join per document. Outputs are
  // sorted and joined to strings so the gate hashes set CONTENT, not
  // engine-specific array ordering.
  private val q182 = QueryDef(
    "q182_array_setops",
    (s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"),
          slice(split(col("text"), " "), 1, 10).as("a"),
          slice(split(col("text"), " "), 5, 11).as("b"))
      d.select(
          col("doc_id"),
          array_join(sort_array(array_distinct(array_union(col("a"), col("b")))), ",").as("u"),
          array_join(sort_array(array_distinct(array_intersect(col("a"), col("b")))), ",").as("i"),
          array_join(sort_array(array_distinct(array_except(col("a"), col("b")))), ",").as("x"),
          size(array_distinct(array_union(col("a"), col("b")))).as("n_union"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
        SELECT doc_id, string_split(text,' ')[1:10] AS a, string_split(text,' ')[5:15] AS b
        FROM documents WHERE doc_id % 4 = 0)
      SELECT doc_id,
        COALESCE(array_to_string(list_sort(list_distinct(list_cat(a, b))), ','), '') AS u,
        COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), ','), '') AS i,
        COALESCE(array_to_string(list_sort(list_distinct(
          list_filter(a, e -> NOT list_contains(b, e)))), ','), '') AS x,
        CAST(len(list_distinct(list_cat(a, b))) AS INTEGER) AS n_union
      FROM d ORDER BY doc_id"""),
    covers = Seq("ARR-setops"))

  // ----------------------------------------------------- date spine gapfill
  // Calendar-spine gapfill without recursion (q64 gates the WITH
  // RECURSIVE form): the spine materializes in-row from ONE
  // `sequence(min, max, interval 1 day)` over the global bounds (a
  // 1-row broadcast), explodes to days, and left-joins the daily
  // aggregate — absent days surface as zero-count rows. At 100 TB
  // the spine is still only O(days) rows; the daily aggregate is the
  // only data-sized operation.
  private val q183 = QueryDef(
    "q183_date_spine",
    (s, dir) => {
      val o = t(s, dir, "orders").select(to_date(col("o_orderdate")).as("d"))
      val daily = o.groupBy("d").agg(count(lit(1)).as("n_raw"))
      val spine = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 DAY"))).as("d"))
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n_raw"), lit(0L)).as("n"))
        .filter(dayofmonth(col("d")) <= 2)
        .orderBy("d")
    },
    Some("""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders),
      daily AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_raw FROM o GROUP BY d),
      bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM o),
      spine AS (SELECT CAST(unnest(generate_series(
          (SELECT lo FROM bounds), (SELECT hi FROM bounds),
          INTERVAL 1 DAY)) AS DATE) AS d)
      SELECT s.d, COALESCE(daily.n_raw, 0) AS n
      FROM spine s LEFT JOIN daily ON s.d = daily.d
      WHERE date_part('day', s.d) <= 2
      ORDER BY s.d"""),
    covers = Seq("GAPFILL-spine"))

  // --------------------------------------------- interval concurrency
  // Sweep-line concurrency per user: each event spans [ts, ts +
  // value minutes) (end exact via DECIMAL×60e6 µs); +1/−1 boundary
  // points sorted within the user partition give the running number
  // of simultaneously-open intervals. The window partitions by
  // user_id, so state never concentrates — the per-key sweep-line is
  // the scalable form (a GLOBAL concurrency sweep needs a two-level
  // prefix-sum; per entity it is one partitioned window). Ends sort
  // before starts at the same instant (half-open intervals).
  private val q185 = QueryDef(
    "q185_user_concurrency",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"),
          (unix_micros(col("ts")) +
            (dec(col("value")) * 60000000L)
              .cast(LongType)).as("en"))
      val pts = ev.select(col("user_id"), col("st").as("t"), lit(1L).as("d"),
          col("event_id"))
        .unionAll(ev.select(col("user_id"), col("en").as("t"), lit(-1L).as("d"),
          col("event_id")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("d"), col("event_id"))
      pts.withColumn("open", sum(col("d")).over(w))
        .groupBy("user_id")
        .agg(max(col("open")).as("max_concurrent"),
          count(lit(1)).as("n_points"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (
        SELECT user_id, event_id,
          epoch_us(ts) AS st,
          epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS en
        FROM events),
      pts AS (
        SELECT user_id, st AS t, CAST(1 AS BIGINT) AS d, event_id FROM ev
        UNION ALL
        SELECT user_id, en, CAST(-1 AS BIGINT), event_id FROM ev),
      run AS (
        SELECT user_id,
          CAST(SUM(d) OVER (PARTITION BY user_id
            ORDER BY t, d, event_id) AS BIGINT) AS open
        FROM pts)
      SELECT user_id,
        CAST(MAX(open) AS BIGINT) AS max_concurrent,
        CAST(COUNT(*) AS BIGINT) AS n_points
      FROM run GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("INT-concurrency"))

  // ------------------------------------------------ approx percentiles
  // Mergeable quantile summary (Greenwald-Khanna) per group — the
  // sketch answer to q50's exact sort-based percentiles. The sketch
  // returns an element within rank-error n/accuracy of the true
  // order statistic, so the raw values can't hash-match an oracle —
  // but the rank BANDS can: each approx percentile is checked
  // against generous exact interpolated bands (±1 rank percent for
  // p50/p90, [98.5, 99.5] for p99 — accuracy 10000 keeps the true
  // error two orders below the band), and the oracle pins the flags
  // to 1. Round13QueriesSpec still pins the raw estimates against
  // exact order statistics. At 100 TB the sketch is one pass + tiny
  // merges where exact percentiles need a full sort per group.
  private val q190 = QueryDef(
    "q190_approx_percentile",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // exact bands via graft.operators.ExactQuantiles (distinct-value
      // rank-select, bit-identical to percentile() — fuzz-pinned in
      // ExactQuantilesSpec). Regime note (same-JVM A/B): with FEW
      // LARGE groups the built-in's per-group value buffer grows with
      // the data and loses one decade up (sf1: 7.8 s vs 6.0 s) while
      // costing slightly less at sf0.1 — the shipped shape is the one
      // that survives the scale-up
      val bands = graft.operators.ExactQuantiles.cont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(("b50lo", 0.49), ("b50hi", 0.51), ("b90lo", 0.89),
          ("b90hi", 0.91), ("b99lo", 0.985), ("b99hi", 0.995)))
      li.groupBy("l_returnflag")
        .agg(
          approx_percentile(col("l_extendedprice"), array(lit(0.5), lit(0.9), lit(0.99)),
            lit(10000)).as("approx_p"),
          count(lit(1)).as("n"))
        .join(bands, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"),
          (element_at(col("approx_p"), 1) >= col("b50lo") &&
            element_at(col("approx_p"), 1) <= col("b50hi"))
            .cast("long").as("p50_in_band"),
          (element_at(col("approx_p"), 2) >= col("b90lo") &&
            element_at(col("approx_p"), 2) <= col("b90hi"))
            .cast("long").as("p90_in_band"),
          (element_at(col("approx_p"), 3) >= col("b99lo") &&
            element_at(col("approx_p"), 3) <= col("b99hi"))
            .cast("long").as("p99_in_band"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(1 AS BIGINT) AS p50_in_band,
        CAST(1 AS BIGINT) AS p90_in_band,
        CAST(1 AS BIGINT) AS p99_in_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    covers = Seq("A-approx-percentile"))

  // ------------------------------------------------- disjunctive join
  // OR-predicate equi-join: orders match customers directly
  // (o_custkey) OR through a second derived key. Planned naively the
  // OR forces BroadcastNestedLoopJoin — O(n·m) predicate
  // evaluations. The engine form is the standard rewrite: one
  // equi-join PER disjunct, unioned, deduplicated on the output key
  // (a pair matching both arms must appear once) — all hash joins,
  // plan-guarded. The oracle writes the naive OR join; agreement
  // proves the rewrite exact, duplicates included.
  private val q191 = QueryDef(
    "q191_disjunctive_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 1500).as("gift_key"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val direct = o.join(c, col("o_custkey") === col("c_custkey"))
      val gifted = o.join(c, col("gift_key") === col("c_custkey"))
      direct.unionByName(gifted)
        .select(col("o_orderkey"), col("c_custkey"), col("c_acctbal"))
        .distinct()
        .orderBy("o_orderkey", "c_custkey")
    },
    Some("""SELECT DISTINCT o_orderkey, c_custkey, c_acctbal
      FROM (SELECT o_orderkey, o_custkey, o_orderkey % 1500 AS gift_key
            FROM orders WHERE o_orderkey % 50 = 0) o
      JOIN customer ON o_custkey = c_custkey OR gift_key = c_custkey
      ORDER BY o_orderkey, c_custkey"""),
    covers = Seq("J-disjunctive"))

  // --------------------------------------------- Wilson lower bound
  // Small-sample-safe rate ranking: per user cohort, the conversion
  // rate purchase/click with its Wilson-score lower bound (z=1.96).
  // Counts are exact integers; the bound is ONE shared IEEE tree of
  // correctly-rounded ops (÷, ·, sqrt) written identically in both
  // engines — bit-stable like q184's z-scores. Ranking sources by
  // wilson_low instead of raw rate is how a curation pipeline avoids
  // promoting a 1-for-1 source over a 900-for-1000 one.
  private val q193 = QueryDef(
    "q193_wilson_bound",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .groupBy((col("user_id") % 20).as("cohort"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
        .filter(col("clicks") > 0)
      // proportion of purchase events among click+purchase events —
      // a true [0,1] binomial proportion, which is what the Wilson
      // interval models
      val n = (col("clicks") + col("purchases")).cast("double")
      val p = col("purchases").cast("double") / n
      val z2 = lit(1.96) * lit(1.96)
      val denom = lit(1.0) + z2 / n
      val center = p + z2 / (lit(2.0) * n)
      val rad = lit(1.96) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
      ev.select(col("cohort"), col("clicks"), col("purchases"),
          p.as("rate"), ((center - rad) / denom).as("wilson_low"))
        .orderBy("cohort")
    },
    Some("""WITH agg AS (
        SELECT user_id % 20 AS cohort,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
        FROM events GROUP BY 1),
      x AS (
        SELECT cohort, clicks, purchases,
          CAST(clicks + purchases AS DOUBLE) AS n,
          CAST(purchases AS DOUBLE) / CAST(clicks + purchases AS DOUBLE) AS p
        FROM agg WHERE clicks > 0),
      z AS (SELECT CAST(1.96 AS DOUBLE) AS zz)
      SELECT cohort, clicks, purchases, p AS rate,
        ((p + (zz * zz) / (CAST(2.0 AS DOUBLE) * n))
          - zz * sqrt(p * (CAST(1.0 AS DOUBLE) - p) / n
                      + (zz * zz) / (CAST(4.0 AS DOUBLE) * n * n)))
        / (CAST(1.0 AS DOUBLE) + (zz * zz) / n) AS wilson_low
      FROM x, z ORDER BY cohort"""),
    covers = Seq("A-wilson"))

  // ------------------------------------------- bitmap distinct count
  // Exact distinct counting without a distinct shuffle: users bucket
  // into 63-wide ranges (bit 63 stays clear — DuckDB checks shift
  // overflow), each (type, bucket) group OR-accumulates one BIGINT
  // bitmap, popcounts sum to the exact distinct count. The
  // roaring-bitmap idea in relational form: state is
  // O(range/63) bits per key instead of O(distinct) 8-byte hash
  // entries, the bitmap OR is associative+commutative (partial
  // aggregation works), and two engines' bitmaps agree bit-for-bit.
  // The oracle runs plain COUNT(DISTINCT) — hash equality proves the
  // bitmap path exact, not approximate.
  private val q199 = QueryDef(
    "q199_bitmap_distinct",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.select(col("event_type"),
          expr("user_id div 63").as("bucket"),
          expr("shiftleft(1L, int(user_id % 63))").as("bit"))
        .groupBy("event_type", "bucket")
        .agg(bit_or(col("bit")).as("bits"))
        .groupBy("event_type")
        .agg(
          sum(bit_count(col("bits")).cast("long")).as("n_distinct_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
        CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_buckets
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-bitmap-distinct"))

  // ------------------------------------------- association rules
  // Market-basket mining over the order fact: parts co-purchased in
  // one order pair up IN-ROW — one shuffle collects each order's
  // part set (bounded: ≤7 items/order), a sorted-set slice expansion
  // emits the <-ordered pairs without any self-join, and the only
  // data-sized exchanges left are the basket build and the pair
  // count (a per-order self-join costs an extra distinct + join
  // shuffle and measured ~2× slower). Confidence and lift divide
  // exact integer counts in ONE IEEE division each (hash-safe);
  // collect_set makes a twice-bought part count once, so pair
  // support means "orders containing both".
  private val q200 = QueryDef(
    "q200_copurchase_rules",
    (s, dir) => {
      // All three frames derive from the session-cached order-part
      // base: the pair table IS the shared weighted co-purchase graph
      // (q200's in-row basket expansion produced the identical
      // (a < b, count) set), item counts and the order total are one
      // aggregate each over the cached distinct frame.
      val op = GraphGateSource.orderPartDistinct(s, dir)
      val nOrders = op.agg(countDistinct(col("o")).as("n_orders"))
      val counts = op.groupBy(col("p").as("pk"))
        .agg(count(lit(1)).as("n_item"))
      val pairs = GraphGateSource.copurchaseW(s, dir)
        .select(col("u").as("part_a"), col("v").as("part_b"),
          col("w").as("n_ab"))
      pairs
        .join(counts.select(col("pk").as("part_a"), col("n_item").as("n_a")), "part_a")
        .join(counts.select(col("pk").as("part_b"), col("n_item").as("n_b")), "part_b")
        .crossJoin(nOrders)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_a"),
          ((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(desc("n_ab"), col("part_a"), col("part_b"))
        .limit(20)
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
      counts AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY pk),
      pairs AS (
        SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      SELECT part_a, part_b, n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
        CAST(n_ab AS DOUBLE) / CAST(ca.n_item AS DOUBLE) AS conf_a,
        CAST(n_ab * n_orders AS DOUBLE) / CAST(ca.n_item * cb.n_item AS DOUBLE) AS lift
      FROM pairs
      JOIN counts ca ON part_a = ca.pk
      JOIN counts cb ON part_b = cb.pk
      CROSS JOIN n
      ORDER BY n_ab DESC, part_a, part_b LIMIT 20"""),
    covers = Seq("AGG-association-rules"))

  // ------------------------------------------ GROUP BY ALL / ORDER BY ALL
  // Parser-level GROUP BY ALL (every non-aggregate select item) and
  // ORDER BY ALL (every select item, left to right) — the
  // exploratory-SQL surface both engines grew independently; the gate
  // pins that their inference picks the same keys and order.
  private val q201 = QueryDef(
    "q201_group_by_all",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT source, lang, COUNT(*) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY ALL ORDER BY ALL""")
    },
    Some("""SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY ALL ORDER BY ALL"""),
    covers = Seq("SQL-group-by-all"))

  // --------------------------------------- sliding-window exact distinct
  // Exact 7-day-rolling active users. Sliding distinct has no
  // window-function form (first-occurrence tricks only work for
  // CUMULATIVE distinct, q138) — the scalable shape is bounded
  // fan-out: each (user, day) emits the 7 report-days it is visible
  // to, then one distinct aggregate per report-day. Linear in
  // (user, day) pairs × window width, no per-day rescan, no
  // quadratic self-join; the trailing fan past the last real day is
  // semi-joined away.
  private val q202 = QueryDef(
    "q202_sliding_distinct",
    (s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val days = ud.select(col("d").as("report_d")).distinct()
      val fan = ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("report_d"))
      fan.join(days, Seq("report_d"), "left_semi")
        .groupBy("report_d")
        .agg(countDistinct(col("user_id")).as("n_active_7d"))
        .orderBy("report_d")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      days AS (SELECT DISTINCT d AS report_d FROM ud),
      fan AS (
        SELECT user_id, d + CAST(i AS INTEGER) AS report_d
        FROM ud, (SELECT unnest(generate_series(0, 6)) AS i))
      SELECT f.report_d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_7d
      FROM fan f JOIN days USING (report_d)
      GROUP BY 1 ORDER BY report_d"""),
    covers = Seq("WIN-sliding-distinct"))

  // ------------------------------------- top-k as a mergeable aggregate
  // graft.functions.ExactTopK under the gate: top-3 order totals per
  // priority class via the TypedImperativeAggregate (bounded min-heap
  // state, map-side combine ships ≤k values per group instead of the
  // group's rows — the winning shape for tiny k over huge groups; the
  // window row_number form is gated separately as q58). Cents-exact
  // DECIMAL→BIGINT values; the oracle slices DuckDB's descending
  // ordered list aggregate.
  private val q212 = QueryDef(
    "q212_topk_aggregate",
    (s, dir) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
      t(s, dir, "orders")
        .select(col("o_orderpriority"), cents.as("cents"))
        .groupBy("o_orderpriority")
        .agg(
          graft.functions.ExactTopK(col("cents"), 3).as("topk"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"),
          array_join(transform(col("topk"), _.cast("string")), ",").as("top3"),
          col("n"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        array_to_string(
          (list(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC))[:3],
          ',') AS top3,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("AGG-typed-imperative-topk"))

  // ------------------------------------------- numeric RANGE frames
  // Value-based window frames on a NUMERIC order key: for each
  // customer, how many same-nation peers sit within 100 currency
  // units below their balance, and their summed balance — RANGE
  // BETWEEN 10000 PRECEDING AND CURRENT ROW over exact cents (q178
  // gates the time-interval twin, q53 the epoch emulation). Peers
  // with EQUAL balance all join the frame (RANGE, not ROWS) — the
  // semantic the gate pins. Output decimated to every 20th customer.
  private val q215 = QueryDef(
    "q215_numeric_range_frame",
    (s, dir) => {
      val cents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy("c_nationkey").orderBy("cents")
        .rangeBetween(-10000, 0)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("cents"))
        .withColumn("n_near", count(lit(1)).over(w))
        .withColumn("sum_near", sum(col("cents")).over(w))
        .filter(col("c_custkey") % 20 === 0)
        .select("c_custkey", "c_nationkey", "n_near", "sum_near")
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (
        SELECT c_custkey, c_nationkey,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM customer)
      SELECT c_custkey, c_nationkey,
        CAST(COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY cents
          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near,
        CAST(SUM(cents) OVER (PARTITION BY c_nationkey ORDER BY cents
          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_near
      FROM c QUALIFY c_custkey % 20 = 0
      ORDER BY c_custkey"""),
    covers = Seq("WIN-numeric-range-frame"))

  // ------------------------------------------- native bitmap aggregates
  // Spark's built-in bitmap family (bitmap_bucket_number /
  // bitmap_bit_position / bitmap_construct_agg / bitmap_count) doing
  // exact distinct users per event type — the engine-native twin of
  // q199's hand-rolled 63-bit bitmaps, proven against plain
  // COUNT(DISTINCT). Buckets hold 32k bits, state is OR-mergeable
  // binary, and the final count sums per-bucket popcounts.
  private val q216 = QueryDef(
    "q216_native_bitmap_agg",
    (s, dir) => {
      // user_id + 1 keeps the 1-based bitmap positions strictly
      // positive for a 0-based id space
      t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id + 1)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))").as("bm"))
        .groupBy("event_type")
        .agg(
          sum(expr("bitmap_count(bm)")).as("n_distinct_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
        CAST(COUNT(DISTINCT user_id // 32768) AS BIGINT) AS n_buckets
      FROM events GROUP BY event_type ORDER BY event_type"""),
    covers = Seq("AGG-native-bitmap"))

  // TPC-H shapes on the driver tables. Missing TPC-H columns are
  // substituted semantics-preserving: l_commitdate/l_receiptdate →
  // ship-after-order lateness (l_shipdate vs o_orderdate), l_shipmode → a
  // derived delay bucket, c_phone country codes → `c_custkey % 7`. Plan
  // shapes (semi/anti joins, correlated aggregates, residual OR predicates,
  // broadcast dims) are the TPC-H ones.

  // ----------------------------------------------------- TPC-H Q4
  // Order-priority checking: per-priority counts of one quarter's
  // orders having at least one LATE line (shipped after the order
  // date — the commit/receipt lateness analog). The EXISTS with a
  // cross-side comparison is decorrelated into an aggregate:
  // `∃ line: l_shipdate > o_orderdate` ⟺ `max(l_shipdate) >
  // o_orderdate`, so the fact collapses to one (orderkey, max) row
  // via a map-side-combined aggregate and the quarter-filtered orders
  // broadcast onto it. A direct LEFT SEMI here would put the FACT on
  // the build side (orders is the smaller, filtered side) — the plan
  // that dies at 100 TB; this shape shuffles lineitem once, joins
  // without any fact-sized broadcast, and the shipdate lower bound
  // (implied by the quarter filter) is pushed into the fact scan.
  private val q220 = QueryDef(
    "q220_tpch_q4",
    (s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-07-01").cast("timestamp")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val lastShip = t(s, dir, "lineitem")
        // any line late for a quarter order ships after the quarter
        // start — a pushable pre-filter that shrinks the aggregate
        .filter(col("l_shipdate") > lo)
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("last_ship"))
      lastShip
        .join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .filter(col("last_ship") > col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    covers = Seq("J3", "A1"))

  // ----------------------------------------------------- TPC-H Q6
  // Forecasting-revenue change: the purest pushdown showcase — a
  // single fact scan whose THREE predicates (ship year, discount
  // band, quantity cap) all reach the parquet reader as pushed
  // filters, then one global DECIMAL sum. No join, no shuffle beyond
  // the final single-row reduce; at 100 TB this is bounded by scan
  // bandwidth alone, with row-group min/max stats skipping most of
  // the year range. Discounts are 2-decimal, so the band compare is
  // exact in DECIMAL.
  private val q221 = QueryDef(
    "q221_tpch_q6",
    (s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1998-01-01").cast("timestamp")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          dec(col("l_discount")) >= dec(lit("0.05")) &&
          dec(col("l_discount")) <= dec(lit("0.07")) &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"))
        .select(col("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""),
    covers = Seq("A7"))

  // ----------------------------------------------------- TPC-H Q12
  // Shipping-delay priority mix (shipmode → delay-bucket adaptation):
  // one lineitem⋈orders equi-join, lines bucketed by ship delay
  // (early / within-60d / slow), per-bucket counts of critical
  // (URGENT/HIGH) vs other order priorities — TPC-H Q12's
  // conditional-count-over-join, with the bucket CASE evaluated
  // per-row inside the join projection. Integer day arithmetic only.
  private val q222 = QueryDef(
    "q222_tpch_q12",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_shipdate")
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      val crit = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          when(delay < 0, "early").when(delay <= 60, "normal")
            .otherwise("slow").as("delay_bucket"),
          when(crit, 1L).otherwise(0L).as("is_crit"))
        .groupBy("delay_bucket")
        .agg(
          sum(col("is_crit")).as("high_line_count"),
          sum(lit(1L) - col("is_crit")).as("low_line_count"))
        .orderBy("delay_bucket")
    },
    Some("""SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 0 THEN 'early'
                 WHEN datediff('day', o_orderdate, l_shipdate) <= 60 THEN 'normal'
                 ELSE 'slow' END AS delay_bucket,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1 ORDER BY delay_bucket"""),
    covers = Seq("A2", "J1"))

  // ----------------------------------------------------- TPC-H Q13
  // Customer order-count distribution INCLUDING zeros: the left outer
  // join that q119 gates row-wise, taken through Q13's double
  // aggregation — orders per customer (zero-order customers kept by
  // the outer join), then customers per order-count. The first
  // group-by is on the join key, so Catalyst plans one exchange for
  // both the join and the count; the second aggregate is tiny.
  private val q223 = QueryDef(
    "q223_tpch_q13",
    (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    covers = Seq("J1", "A1"))

  // ----------------------------------------------------- TPC-H Q17
  // Small-quantity-order revenue: the correlated per-part average
  // (l_quantity < 0.2·avg over the same part) evaluated WITHOUT a
  // division — `5·n·qty < sum` over exact DECIMAL sums is the same
  // predicate with integer-exact arithmetic, so the boundary rows
  // cannot flip on float rounding. Shape: the brand filter broadcasts
  // onto the fact FIRST, and the per-part aggregate runs over that
  // filtered fact — the correlated average is only ever consulted for
  // parts that survive the filter (1/25 of brands), so the group-by
  // touches ~4% of lineitem instead of all of it. The oracle's
  // subquery aggregates the full table, but the join restricts it to
  // the same parts with identical per-group values, so the results
  // coincide while the engine's plan is the one that survives 100 TB.
  private val q224 = QueryDef(
    "q224_tpch_q17",
    (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23")
        .select("p_partkey")
      val l = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      // one broadcast brand-filtered fact frame feeds BOTH the
      // per-part aggregate and the probe side
      val lp = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val perPart = lp.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty_sum"),
          count(lit(1)).as("qty_n"))
      lp.join(perPart, col("l_partkey") === col("a_partkey"))
        .filter(dec(col("l_quantity")) * lit(5) * col("qty_n") < col("qty_sum"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0d))
          .as("avg_yearly"))
        .select(col("avg_yearly"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
          AS avg_yearly
      FROM lineitem JOIN part ON l_partkey = p_partkey
      JOIN (SELECT l_partkey AS a_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
                   CAST(COUNT(*) AS BIGINT) AS qty_n
            FROM lineitem GROUP BY l_partkey) ON l_partkey = a_partkey
      WHERE p_brand = 'Brand#23'
        AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_n < qty_sum"""),
    covers = Seq("C2", "A4"))

  // ----------------------------------------------------- TPC-H Q19
  // Disjunctive brand/size/quantity revenue: the equi-join on
  // p_partkey carries THREE OR-arms as a residual predicate — still a
  // hash join (the equality is extractable), never a nested loop;
  // q191 gates the rewrite for the no-equality case. Each arm pairs a
  // brand with a size range and a quantity band, as in the original.
  private val q225 = QueryDef(
    "q225_tpch_q19",
    (s, dir) => {
      val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val l = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val arm1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
      val arm2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
      val arm3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
      l.join(broadcast(p),
          col("l_partkey") === col("p_partkey") && (arm1 || arm2 || arm3))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 30)"""),
    covers = Seq("J1", "A7"))

  // ----------------------------------------------------- TPC-H Q21
  // Suppliers who kept orders waiting: for finished orders, the
  // suppliers that were the SOLE late supplier in a multi-supplier
  // order. The classical form is EXISTS + NOT-EXISTS self-joins of
  // lineitem (the oracle runs exactly that); the engine computes the
  // same set with per-(order, supplier) then per-order aggregates —
  // distinct suppliers, distinct late suppliers, the unique late
  // supplier (min over the late side), and the number of late LINES
  // (Q21's numwait counts l1 rows, so an order contributes once per
  // late line) — then filters n_late=1 AND n_supp>1. Replacing two
  // correlated fact self-joins with one reduce is the 100 TB-safe
  // plan: lineitem is scanned once and shuffled once. The two-level
  // aggregate (pairs, then orders) replaces the earlier single
  // distinct-aggregate form, whose two countDistincts planned an
  // Expand ×3 of the joined fact ahead of the shuffle; the per-pair
  // partial aggregate map-side combines to unique (order, supplier)
  // pairs instead, and the second aggregate is pair-sized.
  private val q226 = QueryDef(
    "q226_tpch_q21",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
      val perPair = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "l_suppkey")
        .agg(sum(when(late, 1L).otherwise(0L)).as("late_lines"))
      val lateSupp = col("late_lines") > 0
      val perOrder = perPair
        .groupBy("o_orderkey")
        .agg(
          count(lit(1)).as("n_supp"),
          sum(when(lateSupp, 1L).otherwise(0L)).as("n_late"),
          min(when(lateSupp, col("l_suppkey"))).as("late_supp"),
          sum(col("late_lines")).as("n_late_lines"))
        .filter(col("n_late") === 1 && col("n_supp") > 1)
      perOrder
        .groupBy("late_supp")
        .agg(sum(col("n_late_lines")).as("numwait"))
        .join(broadcast(sup), col("late_supp") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    },
    Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""),
    covers = Seq("J3", "A4"))

  // ----------------------------------------------------- TPC-H Q22
  // Global-sales-opportunity: positive-balance customers above their
  // cohort's average balance with no URGENT orders — scalar subquery
  // (the average, computed once and broadcast) + anti join + group-by
  // "country code" (c_custkey % 7 substitutes the phone prefix; the
  // anti-join side is priority-filtered so qualifying customers exist
  // at every sf). The average is ONE division of exact DECIMAL sums,
  // shared by both engines, so the > boundary is bit-identical.
  private val q227 = QueryDef(
    "q227_tpch_q22",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .filter((col("c_custkey") % 7).isin(1, 3, 5))
        .select((col("c_custkey") % 7).as("cntrycode"),
          col("c_custkey"), dec(col("c_acctbal")).as("bal"))
      val avgBal = c.filter(col("bal") > 0)
        .agg((sum(col("bal")).cast("double") / count(lit(1))).as("__avg"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      c.join(broadcast(avgBal))
        .filter(col("bal").cast("double") > col("__avg"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast("double").as("totacctbal"))
        .orderBy("cntrycode")
    },
    Some("""WITH c AS (SELECT c_custkey % 7 AS cntrycode, c_custkey,
                  CAST(c_acctbal AS DECIMAL(18,2)) AS bal
              FROM customer WHERE c_custkey % 7 IN (1, 3, 5)),
        a AS (SELECT CAST(SUM(bal) AS DOUBLE) / CAST(COUNT(*) AS BIGINT)
                  AS avg_bal FROM c WHERE bal > 0)
      SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        CAST(SUM(bal) AS DOUBLE) AS totacctbal
      FROM c, a
      WHERE CAST(bal AS DOUBLE) > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
      GROUP BY cntrycode ORDER BY cntrycode"""),
    covers = Seq("C2", "J3"))

  // The driver tables carry no `partsupp`; the part↔supplier relation is
  // derived as the DISTINCT (l_partkey, l_suppkey) pairs actually traded,
  // with per-pair cost/quantity aggregates standing in for ps_supplycost /
  // ps_availqty. Join shapes (correlated MIN subquery, scalar-subquery
  // thresholds, NOT IN, double-nested IN) are the TPC-H ones. Scale-4/6
  // sums are int128-backed, so their doubles go through the DuckDB-matching
  // two-step cast (d4ToDouble / d6ToDouble).

  // ----------------------------------------------------- TPC-H Q1
  // Pricing summary report: the canonical scan-heavy aggregate — one
  // fact pass, 4 decimal sums + 3 averages + a count per
  // (returnflag, linestatus). Everything partial-aggregates map-side
  // into ~6 groups, so at 100 TB the cost is the scan alone. Charge
  // = price·(1−disc)·(1+tax) is kept exact by re-casting the scale-4
  // product to DECIMAL(24,4) before the scale-2 tax factor (30,6 —
  // inside 38); averages are ONE double division from exact sums.
  private val q233 = QueryDef(
    "q233_tpch_q1",
    (s, dir) => {
      val one = dec(lit("1.00"))
      val discPrice = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
      val charge = discPrice.cast(DecimalType(24, 4)) *
        (one + dec(col("l_tax"))).cast(DecimalType(5, 2))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).as("__sq"),
          sum(dec(col("l_extendedprice"))).as("__sp"),
          sum(discPrice).as("__sdp"),
          sum(charge).as("__sc"),
          sum(dec(col("l_discount"))).as("__sd"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("__sq").cast("double").as("sum_qty"),
          col("__sp").cast("double").as("sum_base_price"),
          d4ToDouble(col("__sdp")).as("sum_disc_price"),
          d6ToDouble(col("__sc")).as("sum_charge"),
          (col("__sq").cast("double") / col("count_order").cast("double")).as("avg_qty"),
          (col("__sp").cast("double") / col("count_order").cast("double")).as("avg_price"),
          (col("__sd").cast("double") / col("count_order").cast("double")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,4)) *
                 CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(5,2))) AS DOUBLE)
          AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS avg_disc,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("A1", "A4"))

  // ----------------------------------------------------- TPC-H Q2
  // Minimum-cost supplier: the correlated-MIN-subquery shape. The
  // part↔supplier relation is the traded (partkey, suppkey) pairs
  // with per-pair MIN price as supply cost; the correlated
  // `cost = (SELECT MIN ... WHERE same part, region suppliers)` is
  // decorrelated into a per-part MIN aggregate re-joined on partkey —
  // one extra fact-keyed exchange instead of a per-row probe. Part
  // and supplier⋈nation⋈region dims broadcast; DECIMAL equality picks
  // the winners exactly.
  private val q234 = QueryDef(
    "q234_tpch_q2",
    (s, dir) => {
      val ps = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(dec(col("l_extendedprice"))).as("ps_cost"))
      val p = t(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "ECONOMY")
        .select("p_partkey")
      val sn = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
      val offers = ps
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      // min-cost-per-part as a window over offers, not an agg+self-join:
      // the self-join form re-ran the lineitem (partkey, suppkey)
      // aggregate on both sides (measured ~1.5x slower); the window
      // shuffles the already-filtered offers once by part
      offers
        .withColumn("__min_cost", min(col("ps_cost")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")))
        .filter(col("ps_cost") === col("__min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("ps_cost").cast("double").as("supply_cost"))
        .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
    },
    Some("""WITH ps AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost
        FROM lineitem GROUP BY 1, 2),
      eu AS (
        SELECT s_suppkey, s_acctbal, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
      SELECT s_acctbal, s_name, n_name, p_partkey,
             CAST(ps_cost AS DOUBLE) AS supply_cost
      FROM part, ps, eu
      WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
        AND p_size = 15 AND p_type = 'ECONOMY'
        AND ps_cost = (SELECT MIN(ps2.ps_cost) FROM ps ps2, eu eu2
                       WHERE ps2.ps_partkey = p_partkey
                         AND ps2.ps_suppkey = eu2.s_suppkey)
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""),
    covers = Seq("C2", "J1"))

  // ----------------------------------------------------- TPC-H Q9
  // Product-type profit: profit per (nation, order year) over the
  // parts matching a name word, amount = price·(1−disc) − cost·qty
  // (cost stands in via p_retailprice — no partsupp). Part and
  // supplier→nation broadcast onto the fact; the single data-sized
  // exchange is lineitem⋈orders on orderkey. Both products are
  // scale-4 DECIMAL so the sum is exact; surfaced via the two-step
  // cast.
  private val q235 = QueryDef(
    "q235_tpch_q9",
    (s, dir) => {
      val one = dec(lit("1.00"))
      val p = t(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      val sn = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"))
      val amount = dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
        dec(col("p_retailprice")) * dec(col("l_quantity"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(amount).as("__profit"))
        .select(col("n_name"), col("o_year"),
          d4ToDouble(col("__profit")).as("sum_profit"))
        .orderBy(col("n_name"), desc("o_year"))
    },
    Some("""SELECT n_name, o_year, CAST(sum_profit AS DOUBLE) AS sum_profit
      FROM (
        SELECT n_name, EXTRACT(YEAR FROM o_orderdate) AS o_year,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2))) -
                   CAST(p_retailprice AS DECIMAL(18,2)) *
                     CAST(l_quantity AS DECIMAL(18,2))) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2)
      ORDER BY n_name, o_year DESC"""),
    covers = Seq("A1", "J1"))

  // ----------------------------------------------------- TPC-H Q11
  // Important stock: per-part traded value among one nation's
  // suppliers, kept where value exceeds 2× the average per-part
  // value — the scalar-subquery-threshold shape, with TPC-H's
  // `> FRACTION·total` cut made scale-invariant (the original 1/1000
  // empties as the part universe grows with SF). The (count, total)
  // stats are a one-row broadcast; the threshold compare
  // cross-multiplies in DECIMAL (value·n_parts > 2·total) so no
  // float boundary decides membership.
  private val q236 = QueryDef(
    "q236_tpch_q11",
    (s, dir) => {
      val supp = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_7")
        .select("s_suppkey")
      val f = t(s, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"), dec(col("l_extendedprice")).as("__price"))
      val perPart = f.groupBy("l_partkey").agg(sum(col("__price")).as("__value"))
      val stats = perPart.agg(count(lit(1)).as("__n"), sum(col("__value")).as("__total"))
      perPart.join(broadcast(stats))
        .filter(col("__value") * col("__n") > col("__total") * lit(2))
        .select(col("l_partkey"), col("__value").cast("double").as("value"))
        .orderBy(desc("value"), col("l_partkey"))
    },
    Some("""WITH f AS (
        SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                            JOIN nation ON s_nationkey = n_nationkey
                            WHERE n_name = 'NATION_7')),
      g AS (SELECT l_partkey, SUM(price) AS value FROM f GROUP BY l_partkey)
      SELECT l_partkey, CAST(value AS DOUBLE) AS value FROM g
      WHERE value * (SELECT COUNT(*) FROM g) > 2 * (SELECT SUM(value) FROM g)
      ORDER BY value DESC, l_partkey"""),
    covers = Seq("C2", "A1"))

  // ----------------------------------------------------- TPC-H Q15
  // Top supplier: one quarter's revenue per supplier (scale-4 DECIMAL
  // sum), then the supplier(s) achieving the global maximum — the
  // revenue-view + scalar-MAX shape. The max is a one-row broadcast
  // and the tie-safe equality is DECIMAL-exact (the float version
  // could drop or double the winner). Supplier dim broadcasts onto
  // the one aggregated exchange.
  private val q237 = QueryDef(
    "q237_tpch_q15",
    (s, dir) => {
      val one = dec(lit("1.00"))
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .as("__rev"))
      val maxRev = rev.agg(max(col("__rev")).as("__max_rev"))
      rev.join(broadcast(maxRev), col("__rev") === col("__max_rev"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          d4ToDouble(col("__rev")).as("total_revenue"))
        .orderBy("s_suppkey")
    },
    Some("""WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""),
    covers = Seq("C2", "A1"))

  // ----------------------------------------------------- TPC-H Q16
  // Parts/supplier relationship: how many distinct suppliers trade
  // each surviving (brand, type, size) combination, excluding
  // flagged suppliers — the NOT-IN + COUNT DISTINCT shape. The
  // distinct traded pairs are one fact exchange; the part filter
  // broadcasts; the NOT IN becomes a broadcast anti-join (the
  // excluded-supplier set is dim-sized).
  private val q238 = QueryDef(
    "q238_tpch_q16",
    (s, dir) => {
      val sizes = Seq(1, 4, 7, 10, 13, 16, 19, 22).map(lit(_))
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#2" && col("p_type") =!= "SMALL" &&
          col("p_size").isin(sizes: _*))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },
    Some("""SELECT p_brand, p_type, p_size,
        CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
            FROM lineitem) ps
      JOIN part ON p_partkey = ps_partkey
      WHERE p_brand <> 'Brand#2' AND p_type <> 'SMALL'
        AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    covers = Seq("A3", "J3"))

  // ----------------------------------------------------- TPC-H Q20
  // Potential part promotion: one nation's suppliers for whom some
  // 'small%'-named part's 1997 shipments exceed half that pair's
  // all-time quantity (recency-majority pairs — the ps_availqty
  // stand-in keeps the correlated-HAVING shape). Double-nested IN:
  // part-name filter broadcasts into the pair aggregate, the
  // qualifying pair set semi-joins the nation-filtered supplier dim.
  // The 2·q97 > qtotal compare is DECIMAL cross-multiplication.
  private val q239 = QueryDef(
    "q239_tpch_q20",
    (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_name").like("small%")).select("p_partkey")
      val pairs = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(
          sum(when(year(col("l_shipdate")) === 1997, dec(col("l_quantity")))
            .otherwise(dec(lit("0.00")))).as("__q97"),
          sum(dec(col("l_quantity"))).as("__qall"))
        .filter(col("__q97") * lit(2) > col("__qall"))
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_3")
        .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
        AND s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
          GROUP BY l_suppkey, l_partkey
          HAVING SUM(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = 1997
                          THEN CAST(l_quantity AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
               > SUM(CAST(l_quantity AS DECIMAL(18,2))))
      ORDER BY s_suppkey"""),
    covers = Seq("J3", "A1"))

  // ------------------------------------------- grid-bucketed radius join
  // Spatial self-join: all embedding pairs within Euclidean radius r
  // of each other in the (dim1, dim2) plane, via the grid-file
  // algorithm — each point lands in a ⌊x/r⌋×⌊y/r⌋ cell, the build
  // side fans out to its 3×3 neighborhood, and cell equality becomes
  // the shuffle key. Lossless by construction: |Δx| ≤ r with cell
  // width r means cell indexes differ by ≤ 1, so every qualifying
  // pair meets in exactly one (home, neighbor) cell; the exact d²≤r²
  // filter (one shared IEEE tree over float→double coords) decides
  // membership, cells only bound candidates. The 9× build fan-out is
  // the standard spatial-join trade: candidates stay local to a
  // cell's ~9r² window instead of the O(n²) cross pair space, and the
  // oracle runs the brute-force theta join to prove zero loss.
  private val q240 = QueryDef(
    "q240_grid_radius_join",
    (s, dir) => {
      val pts = t(s, dir, "embeddings").select(
        col("vec_id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      graft.operators.GridJoin
        .radiusSelfJoin(pts, "vec_id", "x", "y", radius = 0.02d)
        .orderBy("vec_a", "vec_b")
    },
    Some("""WITH e AS (SELECT vec_id,
          CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE)
      ORDER BY vec_a, vec_b"""),
    covers = Seq("SPATIAL-grid-join"))

  // ------------------------------------------- rolling correlation
  // 28-day trailing Pearson correlation between daily line counts and
  // daily shipped quantity: the time-series co-movement monitor. The
  // corpus first collapses to one row per ship day (the only
  // data-sized aggregate — at 100 TB the window then runs over
  // ~thousands of rows, the q07 pattern), then value-based RANGE
  // frames accumulate the five power sums (n, Σx, Σx², Σy, Σxy, Σy²)
  // in longs/DECIMAL — exact under any partitioning — and the
  // correlation emerges from ONE shared IEEE tree. Windows whose x or
  // y variance is zero are excluded by an exact integer/DECIMAL
  // compare, never a float boundary.
  private val q241 = QueryDef(
    "q241_rolling_corr",
    (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("x"), sum(dec(col("l_quantity"))).as("y"))
        .withColumn("ed", datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.orderBy("ed").rangeBetween(-27, 0)
      val framed = daily
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("sy", dec(sum(col("y")).over(w)))
        .withColumn("sxy", dec(sum(col("x") * col("y")).over(w)))
        .withColumn("syy", sum((col("y") * col("y")).cast(DecimalType(18, 4)))
          .over(w).cast(DecimalType(18, 4)))
      val num = col("nw") * col("sxy") - col("sx") * col("sy")
      val den1 = col("nw") * col("sxx") - col("sx") * col("sx")
      val den2 = col("nw") * col("syy") - col("sy") * col("sy")
      framed
        .filter(den1 > 0 && den2 > lit("0.0000").cast(DecimalType(18, 4)))
        .select(col("d"), col("nw").as("n_days"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double")))).as("corr"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS y
        FROM lineitem GROUP BY 1),
      framed AS (
        SELECT d,
          COUNT(*) OVER w AS nw,
          CAST(SUM(x) OVER w AS BIGINT) AS sx,
          CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
          CAST(SUM(y) OVER w AS DECIMAL(18,2)) AS sy,
          CAST(SUM(x * y) OVER w AS DECIMAL(18,2)) AS sxy,
          CAST(SUM(CAST(y * y AS DECIMAL(18,4))) OVER w AS DECIMAL(18,4)) AS syy
        FROM daily
        WINDOW w AS (ORDER BY DATE_DIFF('day', DATE '1970-01-01', d)
                     RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
      SELECT d, CAST(nw AS BIGINT) AS n_days,
        CAST(nw * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(nw * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(nw * syy - sy * sy AS DOUBLE))) AS corr
      FROM framed
      WHERE nw * sxx - sx * sx > 0 AND nw * syy - sy * sy > 0
      ORDER BY d"""),
    covers = Seq("W-rolling-corr"))

  // GROUPS frames are not native to Spark, and the engines' NULLS FIRST/LAST
  // DEFAULTS disagree (Spark sorts nulls first ascending, DuckDB last), so
  // both are pinned explicitly.

  // ------------------------------------------------- GROUPS window frames
  // SQL:2011 GROUPS frames extend the frame by PEER GROUPS (all rows
  // tied on the ORDER BY key), which neither ROWS (counts physical
  // rows) nor plain RANGE over the raw key (needs numeric distance)
  // expresses when ties matter. Spark has no GROUPS mode; the exact
  // emulation is dense_rank — consecutive integers, one per peer
  // group — then a numeric RANGE frame over the rank: rank distance
  // ≤ 1 ⟺ within one peer group. The oracle derives the same frame a
  // structurally different way (peer groups = dates, so it aggregates
  // per date, runs a ROWS frame over the tie-free date table, and
  // joins back to rows — DuckDB parses but does not implement GROUPS
  // mode), so hash-equality proves the emulation exact, ties
  // included. Two window passes over the same (priority, date) sort
  // order — Catalyst reuses the sort.
  // Output decimated by orderkey (q140's pattern) to keep the gate
  // result bounded while every window still computes over all rows.
  private val q242 = QueryDef(
    "q242_groups_frame",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("d"), dec(col("o_totalprice")).as("p"))
      val byDate = Window.partitionBy("o_orderpriority").orderBy("d")
      val withRank = o.withColumn("dr", dense_rank().over(byDate).cast("long"))
      val groupsFrame = Window.partitionBy("o_orderpriority").orderBy("dr")
        .rangeBetween(-1, 1)
      withRank
        .withColumn("grp_sum", sum(col("p")).over(groupsFrame))
        .withColumn("grp_n", count(lit(1)).over(groupsFrame))
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("d"),
          col("grp_sum").cast("double").as("grp_sum"), col("grp_n"))
        .orderBy("o_orderkey")
    },
    Some("""WITH g AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ps,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
      f AS (
        SELECT o_orderpriority, d,
               CAST(SUM(ps) OVER w AS DOUBLE) AS grp_sum,
               CAST(SUM(n) OVER w AS BIGINT) AS grp_n
        FROM g
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
                     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
      SELECT o_orderkey, o.o_orderpriority, f.d, grp_sum, grp_n
      FROM orders o
      JOIN f ON o.o_orderpriority = f.o_orderpriority
            AND CAST(o.o_orderdate AS DATE) = f.d
      WHERE o_orderkey % 97 = 0
      ORDER BY o_orderkey"""),
    covers = Seq("W-groups-frame"))

  // ------------------------------------------------- NULLS FIRST/LAST
  // Explicit null placement in ordering. The engines' defaults
  // DISAGREE (Spark: nulls first on ASC, DuckDB: nulls last), so any
  // ordering-sensitive operator over a nullable key silently diverges
  // unless placement is explicit — this gate pins both directions by
  // materializing the order into row_number (the harness sorts rows
  // before hashing, so ordering must become a VALUE to be testable).
  // A nullable segment is derived via NULLIF; rank1 orders it ASC
  // NULLS LAST (nulls sink), rank2 DESC NULLS FIRST (nulls float),
  // custkey tiebreak makes both total. One partitioned sort each.
  private val q243 = QueryDef(
    "q243_nulls_ordering",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val w1 = Window.partitionBy("c_nationkey")
        .orderBy(asc_nulls_last("seg"), col("c_custkey"))
      val w2 = Window.partitionBy("c_nationkey")
        .orderBy(desc_nulls_first("seg"), col("c_custkey"))
      c.withColumn("rn_asc_nl", row_number().over(w1).cast("long"))
        .withColumn("rn_desc_nf", row_number().over(w2).cast("long"))
        .filter(col("rn_asc_nl") <= 3 || col("rn_desc_nf") <= 3)
        .select(col("c_nationkey"), col("c_custkey"), col("seg"),
          col("rn_asc_nl"), col("rn_desc_nf"))
        .orderBy("c_nationkey", "c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey,
          NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer),
      r AS (SELECT c_nationkey, c_custkey, seg,
          CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY seg ASC NULLS LAST, c_custkey) AS BIGINT) AS rn_asc_nl,
          CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY seg DESC NULLS FIRST, c_custkey) AS BIGINT) AS rn_desc_nf
        FROM c)
      SELECT c_nationkey, c_custkey, seg, rn_asc_nl, rn_desc_nf
      FROM r WHERE rn_asc_nl <= 3 OR rn_desc_nf <= 3
      ORDER BY c_nationkey, c_custkey"""),
    covers = Seq("O-nulls-ordering"))

  // Cross-engine semantic pins for the classically divergent scalar
  // corners — ISO week boundaries, negative integer division/modulo, and
  // decimal rounding. Each is a place engines have historically disagreed
  // (floor vs truncating division, banker's vs half-up rounding, week-1
  // rules), so pinning hash-equality here protects every query built on top
  // of them.

  // ------------------------------------------------- ISO week boundaries
  // ISO-8601 week bucketing over seven years of order dates: the
  // (week-year, week) key differs from the calendar pair exactly at
  // year boundaries (Dec 29–Jan 3 can belong to week 1 of NEXT year
  // or week 52/53 of the PREVIOUS — both engines must agree on every
  // such row). n_cross counts the rows whose ISO week-year differs
  // from the calendar year; min/max pin the bucket edges.
  private val q247 = QueryDef(
    "q247_iso_week",
    (s, dir) => {
      val d = to_date(col("o_orderdate"))
      t(s, dir, "orders")
        .select(d.as("d"),
          expr("extract(YEAROFWEEK FROM o_orderdate)").cast("long").as("iso_year"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          year(col("o_orderdate")).cast("long").as("cal_year"))
        .groupBy("iso_year", "iso_week")
        .agg(count(lit(1)).as("n"),
          sum(when(col("iso_year") =!= col("cal_year"), 1L).otherwise(0L))
            .as("n_cross"),
          min(col("d")).as("first_day"),
          max(col("d")).as("last_day"))
        .orderBy("iso_year", "iso_week")
    },
    Some("""SELECT CAST(isoyear(o_orderdate) AS BIGINT) AS iso_year,
        CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN isoyear(o_orderdate) <> EXTRACT(YEAR FROM o_orderdate)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
        MIN(CAST(o_orderdate AS DATE)) AS first_day,
        MAX(CAST(o_orderdate AS DATE)) AS last_day
      FROM orders
      GROUP BY 1, 2 ORDER BY iso_year, iso_week"""),
    covers = Seq("D-iso-week"))

  // ------------------------------------------------- negative div/mod
  // Integer division and modulo on NEGATIVE operands: Spark's `DIV`
  // and `%` truncate toward zero with the dividend's sign (Java
  // semantics), and DuckDB's `//`/`%` agree — but floor-division
  // engines (Python, PostgreSQL's date math) do not, so the contract
  // deserves a pin. pmod (always-nonnegative residue, THE bucketing
  // form — a negative key must never produce a negative partition) is
  // rebuilt in the oracle as ((x % n) + n) % n. Balances in exact
  // cents exercise both signs.
  private val q248 = QueryDef(
    "q248_negative_mod_div",
    (s, dir) => {
      val cents = (dec(col("c_acctbal")) * 100).cast("long")
      t(s, dir, "customer")
        .select(col("c_custkey"), cents.as("cents"))
        .select(col("c_custkey"), col("cents"),
          expr("cents DIV 7").as("div7"),
          (col("cents") % 7).as("mod7"),
          pmod(col("cents"), lit(7)).as("pmod7"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 7 AS div7,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7 AS mod7,
        ((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7) + 7) % 7
          AS pmod7
      FROM customer ORDER BY c_custkey"""),
    covers = Seq("M-negative-mod"))

  // ------------------------------------------------- decimal rounding
  // round() on DECIMALS (the only rounding the determinism rules
  // allow — double rounding is banned engine-wide because Spark
  // rounds the shortest decimal repr and DuckDB the binary value).
  // On decimals both engines implement HALF_UP away from zero;
  // exact-half inputs at the cut digit (x.x5 cents) and negatives
  // prove it. The rounding itself happens in DECIMAL; the OUTPUT
  // columns are scaled BIGINTs (cents/tenths/units) because the
  // driver's hash normalizes decimal columns differently per engine
  // (r4 post-mortem: arrow values byte-identical, hash still red —
  // every green gate in the suite emits only BIGINT/DOUBLE finals,
  // so q249 now does too; the half-up pin is unchanged, a banker's-
  // rounding engine still flips r1_tenths/d1_cents on every .x5 row).
  private val q249 = QueryDef(
    "q249_decimal_rounding",
    (s, dir) => {
      val bal = dec(col("c_acctbal"))
      t(s, dir, "customer")
        .select(col("c_custkey"),
          (bal * 100).cast("long").as("bal_cents"),
          (round(bal, 1) * 10).cast("long").as("r1_tenths"),
          round(bal, 0).cast("long").as("r0_units"),
          ((round(bal, 1) - bal) * 100).cast("long").as("d1_cents"))
        .filter((bal * 100 % 10).isin(5, -5))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey,
          CAST(c_acctbal AS DECIMAL(18,2)) AS bal FROM customer)
      SELECT c_custkey,
        CAST(bal * 100 AS BIGINT) AS bal_cents,
        CAST(round(bal, 1) * 10 AS BIGINT) AS r1_tenths,
        CAST(round(bal, 0) AS BIGINT) AS r0_units,
        CAST((round(bal, 1) - bal) * 100 AS BIGINT) AS d1_cents
      FROM c
      WHERE bal * 100 % 10 IN (5, -5)
      ORDER BY c_custkey"""),
    covers = Seq("M-decimal-round"))

  // Two more scalar corners engines drift apart on: code-unit vs codepoint
  // string ops, and SQL-standard NULL-poisoning vs null-skipping
  // greatest/least.

  // ------------------------------------------------- unicode semantics
  // Multibyte-aware string surface: length must count CODEPOINTS (both
  // engines) while octet_length/strlen counts UTF-8 bytes; substr
  // offsets are codepoint offsets even when they cross a multibyte
  // boundary; upper maps é→É/ç→Ç through full unicode case tables;
  // and reverse is codepoint-wise. Documented exclusions: astral
  // chars (Spark reverses UTF-16 code units, DuckDB codepoints) and
  // ß (Java uppercases to SS, DuckDB to U+1E9E ẞ) — both outside the
  // pinned contract. The multibyte payload is synthesized per row so
  // the parquet corpus stays engine-neutral.
  private val q250 = QueryDef(
    "q250_unicode_strings",
    (s, dir) => {
      val str = concat(col("p_name"), lit(" héΩ-çafé"))
      t(s, dir, "part")
        .select(col("p_partkey"), str.as("u"))
        .select(col("p_partkey"), col("u"),
          length(col("u")).cast("long").as("n_chars"),
          octet_length(col("u")).cast("long").as("n_bytes"),
          upper(col("u")).as("up"),
          substring(col("u"), 8, 6).as("mid"),
          reverse(col("u")).as("rev"))
        .orderBy("p_partkey")
    },
    Some("""WITH p AS (SELECT p_partkey, p_name || ' héΩ-çafé' AS u FROM part)
      SELECT p_partkey, u,
        CAST(length(u) AS BIGINT) AS n_chars,
        CAST(strlen(u) AS BIGINT) AS n_bytes,
        upper(u) AS up,
        substr(u, 8, 6) AS mid,
        reverse(u) AS rev
      FROM p ORDER BY p_partkey"""),
    covers = Seq("S-unicode"))

  // ------------------------------------------------- greatest/least nulls
  // N-ary extrema with NULL operands: both engines SKIP nulls
  // (greatest(1, NULL, 3) = 3) and return NULL only when every
  // operand is — the Oracle/standard NULL-poisoning variant would
  // null out any row with one missing reading, which is why the
  // contract needs a pin. Nullable operands are derived per row via
  // NULLIF on digit bands so every combination (0, 1, all nulls)
  // occurs in the data.
  private val q251 = QueryDef(
    "q251_extrema_nulls",
    (s, dir) => {
      val cents = (dec(col("c_acctbal")) * 100).cast("long")
      val a = nullif((cents % 10).cast("long"), lit(3L))
      val b = nullif(((cents % 100) / 10).cast("long"), lit(4L))
      val c = nullif((cents % 7).cast("long"), lit(5L))
      t(s, dir, "customer")
        .select(col("c_custkey"), a.as("a"), b.as("b"), c.as("c"))
        .select(col("c_custkey"), col("a"), col("b"), col("c"),
          greatest(col("a"), col("b"), col("c")).as("hi"),
          least(col("a"), col("b"), col("c")).as("lo"),
          (greatest(col("a"), col("b"), col("c")).isNull).as("all_null"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey,
          NULLIF(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 10, 3) AS a,
          NULLIF((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 100) // 10, 4) AS b,
          NULLIF(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) % 7, 5) AS c
        FROM customer)
      SELECT c_custkey, a, b, c,
        greatest(a, b, c) AS hi,
        least(a, b, c) AS lo,
        greatest(a, b, c) IS NULL AS all_null
      FROM c ORDER BY c_custkey"""),
    covers = Seq("M-extrema-nulls"))

  // ------------------------------------------------- comparator array sort
  // In-row sorting with a CUSTOM comparator lambda: each order's
  // line structs sorted by (quantity DESC, linenumber ASC) entirely
  // inside the row via array_sort((l, r) => …) — no explode, no
  // window. The comparator is a total order (linenumber is unique per
  // order), so the result is deterministic even though collect_list's
  // input order is not: any permutation sorts to the same sequence.
  // DuckDB has no comparator lambdas; the oracle derives the same
  // sequence through ORDER BY inside an ordered aggregate — two
  // different mechanisms, one pinned answer.
  private val q252 = QueryDef(
    "q252_comparator_sort",
    (s, dir) => {
      val sorted = array_sort(
        col("lines"),
        (l, r) => when(l.getField("q") > r.getField("q"), -1)
          .when(l.getField("q") < r.getField("q"), 1)
          .otherwise(l.getField("ln") - r.getField("ln")))
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(
          dec(col("l_quantity")).as("q"),
          col("l_linenumber").as("ln"))).as("lines"))
        .select(col("l_orderkey"), size(col("lines")).as("n_lines"),
          array_join(transform(sorted, x => x.getField("ln").cast("string")), ",")
            .as("ln_by_qty"))
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey,
        CAST(COUNT(*) AS INTEGER) AS n_lines,
        string_agg(CAST(l_linenumber AS VARCHAR), ','
          ORDER BY CAST(l_quantity AS DECIMAL(18,2)) DESC, l_linenumber)
          AS ln_by_qty
      FROM lineitem
      GROUP BY l_orderkey ORDER BY l_orderkey"""),
    covers = Seq("A-comparator-sort"))

  // Cumulative-extreme and non-associative-scan shapes: running-peak
  // drawdown and a floor-capped running balance (the classic fold that NO
  // window frame expresses, because the cap makes the recurrence
  // non-associative).

  // ------------------------------------------------- max drawdown
  // Largest drop from the running peak of daily revenue, per year:
  // dd_d = max_{≤d}(rev) − rev_d over an unbounded-preceding running
  // MAX window, then the year's worst drawdown with its FIRST
  // achieving day (exact-decimal equality picks the days; min(day)
  // totalizes ties). Everything is DECIMAL until the final double
  // surface. The unpartitioned-looking window is per-day aggregates —
  // thousands of rows at any corpus scale (the q07 pattern).
  private val q253 = QueryDef(
    "q253_max_drawdown",
    (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(dec(sum(dec(col("l_extendedprice")))).as("rev"))
        .withColumn("yr", year(col("d")).cast("long"))
      val runPeak = Window.partitionBy("yr").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withDd = daily
        .withColumn("dd", dec(max(col("rev")).over(runPeak) - col("rev")))
      val worst = withDd.groupBy("yr").agg(max(col("dd")).as("max_dd"))
      withDd.join(worst, Seq("yr"))
        .filter(col("dd") === col("max_dd"))
        .groupBy(col("yr"), col("max_dd"))
        .agg(min(col("d")).as("worst_day"))
        .select(col("yr"), col("max_dd").cast("double").as("max_drawdown"),
          col("worst_day"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS rev
        FROM lineitem GROUP BY 1),
      w AS (
        SELECT d, CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS yr,
          CAST(MAX(rev) OVER (PARTITION BY EXTRACT(YEAR FROM d) ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev
            AS DECIMAL(18,2)) AS dd
        FROM daily),
      worst AS (SELECT yr, MAX(dd) AS max_dd FROM w GROUP BY yr)
      SELECT w.yr, CAST(worst.max_dd AS DOUBLE) AS max_drawdown,
             MIN(w.d) AS worst_day
      FROM w JOIN worst ON w.yr = worst.yr AND w.dd = worst.max_dd
      GROUP BY w.yr, worst.max_dd
      ORDER BY w.yr"""),
    covers = Seq("W-drawdown"))

  // ------------------------------------------------- capped running sum
  // Floor-at-zero running balance per user: bal_t = max(0, bal_{t-1}
  // + Δ_t). The cap makes the recurrence NON-associative, so no
  // window frame or prefix sum computes it — it is a sequential fold,
  // expressed in-row: collect each user's deltas, comparator-sort by
  // (ts, event_id) so any collect permutation folds identically, and
  // `aggregate` runs the recurrence left to right in exact DECIMAL.
  // The oracle folds the same list with DuckDB's list_reduce over an
  // ORDER BY'd list — two different fold mechanisms, one pinned
  // answer. Per-key state is that key's OWN event list: at 100 TB the
  // fold shards perfectly by user and never shuffles twice.
  private val q254 = QueryDef(
    "q254_capped_running_sum",
    (s, dir) => {
      val zero = dec(lit("0.00"))
      val sorted = array_sort(
        col("steps"),
        (l, r) => when(l.getField("t") < r.getField("t"), -1)
          .when(l.getField("t") > r.getField("t"), 1)
          .otherwise(l.getField("id") - r.getField("id")).cast("int"))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(collect_list(struct(
          unix_micros(col("ts")).as("t"),
          col("event_id").as("id"),
          (dec(col("value")) - lit(250)).as("delta"))).as("steps"))
        .select(col("user_id"), size(col("steps")).as("n_events"),
          aggregate(
            transform(sorted, x => x.getField("delta")),
            zero,
            (acc, x) => dec(greatest(acc + x, zero)))
            .cast("double").as("final_balance"))
        .orderBy("user_id")
    },
    Some("""WITH s AS (
        SELECT user_id,
               list(CAST(CAST(value AS DECIMAL(18,2)) - 250 AS DECIMAL(18,2))
                    ORDER BY ts, event_id) AS deltas
        FROM events GROUP BY user_id)
      SELECT user_id,
        CAST(len(deltas) AS INTEGER) AS n_events,
        CAST(list_reduce(
          list_prepend(CAST(0 AS DECIMAL(18,2)), deltas),
          (acc, x) -> CAST(greatest(acc + x, CAST(0 AS DECIMAL(18,2)))
                           AS DECIMAL(18,2))) AS DOUBLE) AS final_balance
      FROM s ORDER BY user_id"""),
    covers = Seq("F-capped-scan"))

  // ------------------------------------------------- percent of parent
  // Part-to-whole at every grain of a hierarchy: each nation's
  // revenue as a share of its region AND of the world, plus the
  // region's share of the world — the drill-down ratio set every
  // OLAP layer renders. One exact-decimal aggregate at the leaf
  // grain; parents come from window sums OVER the aggregated frame
  // (25 rows at any corpus scale), so the corpus is scanned once and
  // every division is one IEEE op from exact numerators.
  private val q255 = QueryDef(
    "q255_pct_of_parent",
    (s, dir) => {
      val geo = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      // geo = customer ⋈ broadcast dims; customer itself is fact-sized
      // at real SF, so the orders⋈customer equi-join is left to the
      // planner (shuffle or broadcast by stats/AQE) — never forced
      val leaf = t(s, dir, "orders")
        .join(geo, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dec(sum(dec(col("o_totalprice")))).as("rev"))
      val byRegion = Window.partitionBy("r_name")
      val world = Window.partitionBy()
      leaf
        .withColumn("region_rev", dec(sum(col("rev")).over(byRegion)))
        .withColumn("world_rev", dec(sum(col("rev")).over(world)))
        .select(col("r_name"), col("n_name"),
          col("rev").cast("double").as("rev"),
          (col("rev").cast("double") / col("region_rev").cast("double"))
            .as("share_of_region"),
          (col("rev").cast("double") / col("world_rev").cast("double"))
            .as("share_of_world"),
          (col("region_rev").cast("double") / col("world_rev").cast("double"))
            .as("region_share_of_world"))
        .orderBy("r_name", "n_name")
    },
    Some("""WITH leaf AS (
        SELECT r_name, n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name),
      w AS (
        SELECT r_name, n_name, rev,
          CAST(SUM(rev) OVER (PARTITION BY r_name) AS DECIMAL(18,2)) AS region_rev,
          CAST(SUM(rev) OVER () AS DECIMAL(18,2)) AS world_rev
        FROM leaf)
      SELECT r_name, n_name, CAST(rev AS DOUBLE) AS rev,
        CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE) AS share_of_region,
        CAST(rev AS DOUBLE) / CAST(world_rev AS DOUBLE) AS share_of_world,
        CAST(region_rev AS DOUBLE) / CAST(world_rev AS DOUBLE)
          AS region_share_of_world
      FROM w ORDER BY r_name, n_name"""),
    covers = Seq("A-pct-of-parent"))

  // ------------------------------------------------- event path trigrams
  // Order-sensitive behavioral paths: each user's event stream in
  // (ts, event_id) order yields its consecutive type TRIGRAMS (two
  // lags over the per-user window), counted corpus-wide with distinct
  // walkers — the path-mining step after q167's pairwise Markov
  // transitions. Top-25 by (count desc, path) is a total order. The
  // per-user window shards by user_id; the trigram aggregate is
  // map-side combined — two keyed shuffles at any scale.
  private val q256 = QueryDef(
    "q256_event_trigrams",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .withColumn("t3", lag(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("t3"), col("t2"), col("event_type")).as("path"),
          col("user_id"))
        .groupBy("path")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(desc("n"), col("path"))
        .limit(25)
    },
    Some("""WITH seq AS (
        SELECT user_id, event_type,
          LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
          LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        FROM events)
      SELECT t3 || '>' || t2 || '>' || event_type AS path,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 25"""),
    covers = Seq("SEQ-trigram-paths"))

  // ------------------------------------------------- format strings
  // printf-family formatting and null-skipping concat: format_string
  // (Spark) vs printf (DuckDB) over integer/hex/string verbs — the
  // locale-free subset that IS portable (float verbs are not: the
  // engines' shortest-repr vs C-printf rules differ, so the engine
  // bans them like round-on-double) — plus concat_ws's skip-NULLs
  // contract (|| would null the whole row) and lpad zero-padding.
  // Two more documented exclusions shape the formatted args: a NULL
  // printf arg NULLs the row in DuckDB but renders 'null' in Spark
  // (so the verb args are coalesced; concat_ws keeps the raw NULL to
  // pin ITS skip contract), and %x of a negative integer is
  // two's-complement width-dependent — hex gets a pmod-nonnegative.
  private val q257 = QueryDef(
    "q257_format_strings",
    (s, dir) => {
      val cents = (dec(col("c_acctbal")) * 100).cast("long")
      val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
      t(s, dir, "customer")
        .select(col("c_custkey"), cents.as("cents"), seg.as("seg"))
        .select(col("c_custkey"),
          format_string("%08d|%s|%x", col("c_custkey"),
            coalesce(col("seg"), lit("none")), pmod(col("cents"), lit(4096)))
            .as("formatted"),
          concat_ws("-", lit("cust"), col("seg"), col("c_custkey")).as("joined"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (SELECT c_custkey,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          NULLIF(c_mktsegment, 'BUILDING') AS seg
        FROM customer)
      SELECT c_custkey,
        printf('%08d|%s|%x', c_custkey, COALESCE(seg, 'none'),
               ((cents % 4096) + 4096) % 4096) AS formatted,
        concat_ws('-', 'cust', seg, c_custkey) AS joined,
        lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
      FROM c ORDER BY c_custkey"""),
    covers = Seq("S-format"))

  // ------------------------------------------------- 2-D histogram
  // Binned density over the (dim1, dim2) embedding plane: fixed-width
  // integer cells (the same ⌊x/w⌋ keys GridJoin shards by), per-cell
  // counts and micro-quantized centroids — the density map that sizes
  // a spatial-join's cells and exposes hot spots BEFORE running it.
  // One aggregate, integer keys, map-side combined. A raw double SUM
  // would be partial-order nondeterministic, so each coordinate is
  // floor-quantized to integer micro-units first (⌊x·10⁶⌋ — one
  // deterministic IEEE multiply + floor per row); the LONG sums are
  // exact under any partitioning and the centroid is ONE division.
  private val q258 = QueryDef(
    "q258_histogram_2d",
    (s, dir) => {
      val x = element_at(col("embedding"), 1).cast("double")
      val y = element_at(col("embedding"), 2).cast("double")
      val w = 0.1d
      t(s, dir, "embeddings")
        .select(col("vec_id"), x.as("x"), y.as("y"))
        .groupBy(floor(col("x") / lit(w)).cast("long").as("bx"),
          floor(col("y") / lit(w)).cast("long").as("by"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1000000.0d)).cast("long")).as("qx"),
          sum(floor(col("y") * lit(1000000.0d)).cast("long")).as("qy"))
        .select(col("bx"), col("by"), col("n"),
          (col("qx").cast("double") / col("n").cast("double") / lit(1000000.0d))
            .as("cx"),
          (col("qy").cast("double") / col("n").cast("double") / lit(1000000.0d))
            .as("cy"))
        .orderBy("bx", "by")
    },
    Some("""WITH e AS (SELECT
          CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings)
      SELECT CAST(floor(x / CAST(0.1 AS DOUBLE)) AS BIGINT) AS bx,
             CAST(floor(y / CAST(0.1 AS DOUBLE)) AS BIGINT) AS by,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(x * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE) /
               CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cx,
             CAST(SUM(CAST(floor(y * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE) /
               CAST(COUNT(*) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS cy
      FROM e GROUP BY 1, 2 ORDER BY bx, by"""),
    covers = Seq("SPATIAL-histogram-2d"))

  // ------------------------------------------------- proration
  // Largest-remainder apportionment: split a fixed integer budget
  // (1,000,000 micro-units per order) across the order's lineitems
  // proportional to extended price, so the per-order allocations SUM
  // EXACTLY to the budget — the allocation primitive behind cost
  // attribution and pro-rated discounts, where naive rounding leaks
  // units. Pure integer arithmetic end to end: truncating `div` for
  // the floor shares (operands non-negative, so div ≡ floor — the
  // q248-pinned semantics), the exact integer remainder ranks which
  // rows get the +1 top-up (ties broken by linenumber), and the
  // window re-sum proves the invariant in-band (order_total is
  // constant 1,000,000). Per-order windows partition by l_orderkey —
  // at 100 TB this is one hash shuffle of the (filtered) fact, no
  // driver involvement, no doubles anywhere.
  private val q259 = QueryDef(
    "q259_proration",
    (s, dir) => {
      val budget = lit(1000000L)
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
      val wOrd = Window.partitionBy("l_orderkey")
      val based = li
        .withColumn("tot", sum(col("cents")).over(wOrd))
        .withColumn("base", expr("(1000000 * cents) div tot"))
        .withColumn("rem", budget * col("cents") - col("base") * col("tot"))
      val wRem = Window.partitionBy("l_orderkey")
        .orderBy(desc("rem"), asc("l_linenumber"))
      based
        .withColumn("deficit", budget - sum(col("base")).over(wOrd))
        .withColumn("rn", row_number().over(wRem))
        .withColumn("alloc",
          col("base") + when(col("rn") <= col("deficit"), 1L).otherwise(0L))
        .withColumn("order_total", sum(col("alloc")).over(wOrd))
        .select(col("l_orderkey"), col("l_linenumber"), col("cents"),
          col("alloc"), col("order_total"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH li AS (SELECT l_orderkey, l_linenumber,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM lineitem WHERE l_orderkey % 97 = 0),
      w1 AS (SELECT *, CAST(SUM(cents) OVER (PARTITION BY l_orderkey) AS BIGINT) AS tot
             FROM li),
      w2 AS (SELECT *, (1000000 * cents) // tot AS base,
                    1000000 * cents - ((1000000 * cents) // tot) * tot AS rem
             FROM w1),
      w3 AS (SELECT *,
          1000000 - CAST(SUM(base) OVER (PARTITION BY l_orderkey) AS BIGINT) AS deficit,
          ROW_NUMBER() OVER (PARTITION BY l_orderkey
                             ORDER BY rem DESC, l_linenumber) AS rn
        FROM w2),
      w4 AS (SELECT l_orderkey, l_linenumber, cents,
          base + CASE WHEN rn <= deficit THEN 1 ELSE 0 END AS alloc
        FROM w3)
      SELECT l_orderkey, l_linenumber, cents, alloc,
        CAST(SUM(alloc) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_total
      FROM w4 ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("A-apportionment"))

  // ------------------------------------------------- RFM segmentation
  // Recency/Frequency/Monetary quintile segmentation — the classic
  // customer-value grid, and a stand-in for any score-quantile
  // bucketing of entities. Each axis is an NTILE(5) over a TOTAL
  // order (metric, then custkey as tiebreak) so bucket assignment is
  // engine independent; the three digits concatenate into one
  // segment code. Per-segment rollup keeps money exact (DECIMAL sum,
  // ONE cast to double at the end) and derives averages from exact
  // long/decimal sums. The un-partitioned NTILE windows run over the
  // per-customer AGGREGATE (|customers| rows, not |orders|) — at
  // 100 TB the per-customer grain still fits a single task's sort,
  // and the heavy orders scan underneath is a hash aggregate.
  private val q261 = QueryDef(
    "q261_rfm_segments",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("lastd"),
          count(lit(1)).as("f"),
          sum(dec(col("o_totalprice"))).as("m"))
        .crossJoin(broadcast(maxd))
        .withColumn("r_days", datediff(col("maxd"), col("lastd")).cast("long"))
      val rq = ntile(5).over(Window.orderBy(asc("r_days"), asc("o_custkey")))
      val fq = ntile(5).over(Window.orderBy(desc("f"), asc("o_custkey")))
      val mq = ntile(5).over(Window.orderBy(desc("m"), asc("o_custkey")))
      cust
        .withColumn("segment",
          (rq * 100 + fq * 10 + mq).cast("long"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("f")).as("orders_total"),
          sum(col("m")).as("m_sum"),
          sum(col("r_days")).as("r_sum"))
        .select(col("segment"), col("n_customers"), col("orders_total"),
          col("m_sum").cast("double").as("monetary_total"),
          (col("r_sum").cast("double") / col("n_customers").cast("double"))
            .as("avg_recency_days"))
        .orderBy("segment")
    },
    Some("""WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
      cust AS (SELECT o_custkey,
          MAX(CAST(o_orderdate AS DATE)) AS lastd,
          CAST(COUNT(*) AS BIGINT) AS f,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        FROM orders GROUP BY o_custkey),
      scored AS (SELECT c.*,
          CAST(DATE_DIFF('day', lastd, maxd) AS BIGINT) AS r_days
        FROM cust c, maxd),
      tiled AS (SELECT *,
          NTILE(5) OVER (ORDER BY r_days ASC, o_custkey ASC) AS rq,
          NTILE(5) OVER (ORDER BY f DESC, o_custkey ASC) AS fq,
          NTILE(5) OVER (ORDER BY m DESC, o_custkey ASC) AS mq
        FROM scored)
      SELECT CAST(rq * 100 + fq * 10 + mq AS BIGINT) AS segment,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(f) AS BIGINT) AS orders_total,
        CAST(SUM(m) AS DOUBLE) AS monetary_total,
        CAST(SUM(r_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_recency_days
      FROM tiled GROUP BY 1 ORDER BY segment"""),
    covers = Seq("A-rfm"))

  // ------------------------------------------------- new vs returning
  // Weekly audience decomposition: each active user counts as NEW in
  // the ISO week of their first event and RETURNING afterwards — the
  // growth-accounting split behind every DAU/WAU dashboard. The first
  // touch comes from a per-user min() aggregate (map-side combined)
  // joined back to the distinct user-week activity set; both sides
  // shuffle on user_id once. ISO week bucketing is the q247-pinned
  // semantics. Everything is exact counts; the returning share is one
  // division.
  private val q276 = QueryDef(
    "q276_new_vs_returning",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"),
          weekofyear(to_date(col("ts"))).cast("long").as("wk"),
          to_date(col("ts")).as("d"))
      val firstTouch = e.groupBy("user_id").agg(min(col("d")).as("first_d"))
      val active = e.select("user_id", "wk").distinct()
      val firstWk = firstTouch
        .select(col("user_id"),
          weekofyear(col("first_d")).cast("long").as("first_wk"))
      active.join(firstWk, "user_id")
        .groupBy("wk")
        .agg(count(lit(1)).as("active_users"),
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("new_users"))
        .withColumn("returning_users", col("active_users") - col("new_users"))
        .select(col("wk"), col("active_users"), col("new_users"),
          col("returning_users"),
          (col("returning_users").cast("double") /
            col("active_users").cast("double")).as("returning_share"))
        .orderBy("wk")
    },
    Some("""WITH e AS (SELECT user_id,
          CAST(weekofyear(CAST(ts AS DATE)) AS BIGINT) AS wk,
          CAST(ts AS DATE) AS d
        FROM events),
      first_touch AS (SELECT user_id, MIN(d) AS first_d FROM e GROUP BY 1),
      active AS (SELECT DISTINCT user_id, wk FROM e),
      first_wk AS (SELECT user_id,
          CAST(weekofyear(first_d) AS BIGINT) AS first_wk
        FROM first_touch),
      g AS (SELECT wk,
          CAST(COUNT(*) AS BIGINT) AS active_users,
          CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
            AS new_users
        FROM active JOIN first_wk USING (user_id) GROUP BY wk)
      SELECT wk, active_users, new_users,
        active_users - new_users AS returning_users,
        CAST(active_users - new_users AS DOUBLE)
          / CAST(active_users AS DOUBLE) AS returning_share
      FROM g ORDER BY wk"""),
    covers = Seq("A-new-returning"))

  // ------------------------------------------------- attribution
  // First-touch vs last-touch conversion attribution: every purchase
  // credits the first and the last click/view that preceded it within
  // a 7-day lookback. The candidate join keys on user_id (ONE hash
  // shuffle; per-user event counts are bounded, so the per-key fanout
  // is too), then row_number under two total orders picks the two
  // touches. Latencies are integer seconds (µs div 10⁶); the per-
  // (model, touch-type) mean is one division of exact longs.
  private val q278 = QueryDef(
    "q278_attribution",
    (s, dir) => {
      val e = t(s, dir, "events")
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("t_id"),
          col("event_type").as("touch_type"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val lookbackUs = 7L * 86400L * 1000000L
      val cand = purchases.join(touches, "user_id")
        .filter(col("t_us") <= col("p_us") &&
          col("t_us") > col("p_us") - lookbackUs)
      val wFirst = Window.partitionBy("p_id")
        .orderBy(asc("t_us"), asc("t_id"))
      val wLast = Window.partitionBy("p_id")
        .orderBy(desc("t_us"), desc("t_id"))
      val attributed = cand
        .withColumn("rn_first", row_number().over(wFirst))
        .withColumn("rn_last", row_number().over(wLast))
      val first = attributed.filter(col("rn_first") === 1)
        .select(lit("first_touch").as("model"), col("touch_type"),
          expr("(p_us - t_us) div 1000000").as("latency_s"))
      val last = attributed.filter(col("rn_last") === 1)
        .select(lit("last_touch").as("model"), col("touch_type"),
          expr("(p_us - t_us) div 1000000").as("latency_s"))
      first.unionByName(last)
        .groupBy("model", "touch_type")
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("latency_s")).as("lat_sum"))
        .select(col("model"), col("touch_type"), col("n_conversions"),
          (col("lat_sum").cast("double") / col("n_conversions").cast("double"))
            .as("mean_latency_s"))
        .orderBy("model", "touch_type")
    },
    Some("""WITH touches AS (SELECT user_id, event_id AS t_id,
          event_type AS touch_type, epoch_us(ts) AS t_us
        FROM events WHERE event_type IN ('click', 'view')),
      purchases AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'),
      cand AS (SELECT p.p_id, t.touch_type, p.p_us, t.t_us, t.t_id
        FROM purchases p JOIN touches t USING (user_id)
        WHERE t.t_us <= p.p_us
          AND t.t_us > p.p_us - 7 * 86400 * CAST(1000000 AS BIGINT)),
      attributed AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us ASC, t_id ASC)
            AS rn_first,
          ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us DESC, t_id DESC)
            AS rn_last
        FROM cand),
      unioned AS (
        SELECT 'first_touch' AS model, touch_type,
          (p_us - t_us) // 1000000 AS latency_s
        FROM attributed WHERE rn_first = 1
        UNION ALL
        SELECT 'last_touch' AS model, touch_type,
          (p_us - t_us) // 1000000 AS latency_s
        FROM attributed WHERE rn_last = 1)
      SELECT model, touch_type,
        CAST(COUNT(*) AS BIGINT) AS n_conversions,
        CAST(SUM(latency_s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_latency_s
      FROM unioned GROUP BY 1, 2 ORDER BY model, touch_type"""),
    covers = Seq("A-attribution"))

  // ------------------------------------------------- magnitude hist
  // Power-of-two magnitude histogram of order value: bucket
  // ⌊log2(cents)⌋ computed EXACTLY as the binary-digit count of the
  // integer (conv ↔ bin string length — no floating log, so no libm
  // at all), with the bucket bounds reconstructed by integer shifts.
  // The log-scaled histogram that sizes sketches and spots heavy
  // tails, gated bit-exactly. One aggregate on (priority, bucket).
  private val q279 = QueryDef(
    "q279_magnitude_hist",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast("long")
      t(s, dir, "orders")
        .select(col("o_orderpriority").as("p"), cents.as("cents"))
        .filter(col("cents") > 0)
        .withColumn("bucket",
          (length(conv(col("cents"), 10, 2)) - 1).cast("long"))
        .groupBy("p", "bucket")
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .withColumn("lo", expr("shiftleft(1L, cast(bucket as int))"))
        .withColumn("hi", expr("shiftleft(1L, cast(bucket + 1 as int)) - 1L"))
        .select(col("p"), col("bucket"), col("lo"), col("hi"), col("n"),
          col("min_cents"), col("max_cents"))
        .orderBy("p", "bucket")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS p,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      b AS (SELECT p, cents,
          CAST(length(bin(cents)) - 1 AS BIGINT) AS bucket
        FROM o WHERE cents > 0)
      SELECT p, bucket,
        CAST(1 AS BIGINT) << bucket AS lo,
        (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
        CAST(COUNT(*) AS BIGINT) AS n,
        MIN(cents) AS min_cents, MAX(cents) AS max_cents
      FROM b GROUP BY p, bucket ORDER BY p, bucket"""),
    covers = Seq("AGG-magnitude-hist"))

  // ------------------------------------------------- skyline
  // 2-D skyline (Pareto frontier): per segment, the orders no other
  // order beats on BOTH date and price (minimize each; strict in at
  // least one coordinate). The classic O(n²) domination test
  // collapses to two window minima over ONE sort: a row is dominated
  // iff an earlier-date row has price ≤ p (min over a RANGE frame
  // ending 1 day back) or a same-date row has price < p (min over the
  // date partition). All compares are exact DECIMAL/integer — no
  // float boundary picks the frontier — and the windows share the
  // (segment, day) sort, so Catalyst plans one Exchange + one sort.
  private val q282 = QueryDef(
    "q282_skyline",
    (s, dir) => {
      val o = t(s, dir, "orders").join(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          dec(col("o_totalprice")).as("p"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("ed"))
      val wEarlier = Window.partitionBy("seg").orderBy("ed")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSameDay = Window.partitionBy("seg", "ed")
      o.withColumn("m_earlier", min(col("p")).over(wEarlier))
        .withColumn("m_same", min(col("p")).over(wSameDay))
        .filter((col("m_earlier").isNull || col("m_earlier") > col("p")) &&
          col("m_same") >= col("p"))
        .select(col("seg"), col("o_orderkey"), col("ed"),
          col("p").cast("double").as("price"))
        .orderBy("seg", "ed", "o_orderkey")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS seg, o_orderkey,
          CAST(o_totalprice AS DECIMAL(18,2)) AS p,
          CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS ed
        FROM orders JOIN customer ON o_custkey = c_custkey),
      w AS (SELECT *,
          MIN(p) OVER (PARTITION BY seg ORDER BY ed
            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_earlier,
          MIN(p) OVER (PARTITION BY seg, ed) AS m_same
        FROM o)
      SELECT seg, o_orderkey, ed, CAST(p AS DOUBLE) AS price
      FROM w
      WHERE (m_earlier IS NULL OR m_earlier > p) AND m_same >= p
      ORDER BY seg, ed, o_orderkey"""),
    covers = Seq("A-skyline"))

  // ------------------------------------------------- lead time
  // Fulfillment latency: days from order placement to each line's
  // ship date, summarized per order priority as exact integer-day
  // percentiles (P50/P90/P99 as the VALUE at rank ⌈q·n⌉ — the
  // percentile_disc definition, a pure rank lookup with no
  // interpolation) plus the exact-ratio mean. One fact-to-fact key
  // join (orders broadcast-side aggregated? no — both fact-sized, so
  // it shuffles on orderkey once), then rank windows per priority.
  private val q285 = QueryDef(
    "q285_lead_time",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("p"),
          to_date(col("o_orderdate")).as("od"))
      val lt = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("p"), datediff(col("sd"), col("od")).cast("long").as("days"),
          col("l_orderkey"))
      val wRank = Window.partitionBy("p").orderBy(col("days"), col("l_orderkey"))
      val wAll = Window.partitionBy("p")
      val ranked = lt
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum(col("days")).over(wAll))
      ranked.groupBy("p")
        .agg(first(col("n")).as("n_lines"),
          max(when(col("i") === expr("(n + 1) div 2"), col("days"))).as("p50"),
          max(when(col("i") === expr("(9 * n + 9) div 10"), col("days")))
            .as("p90"),
          max(when(col("i") === expr("(99 * n + 99) div 100"), col("days")))
            .as("p99"),
          first(col("sx")).as("sx"))
        .select(col("p"), col("n_lines"), col("p50"), col("p90"), col("p99"),
          (col("sx").cast("double") / col("n_lines").cast("double"))
            .as("mean_days"))
        .orderBy("p")
    },
    Some("""WITH lt AS (SELECT o_orderpriority AS p,
          CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
          l_orderkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY days, l_orderkey)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n,
          CAST(SUM(days) OVER (PARTITION BY p) AS BIGINT) AS sx
        FROM lt)
      SELECT p, MIN(n) AS n_lines,
        MAX(CASE WHEN i = (n + 1) // 2 THEN days END) AS p50,
        MAX(CASE WHEN i = (9 * n + 9) // 10 THEN days END) AS p90,
        MAX(CASE WHEN i = (99 * n + 99) // 100 THEN days END) AS p99,
        CAST(MIN(sx) AS DOUBLE) / CAST(MIN(n) AS DOUBLE) AS mean_days
      FROM ranked GROUP BY p ORDER BY p"""),
    covers = Seq("A-lead-time"))

  // ------------------------------------------------- FILTER clause
  // Standard-SQL conditional aggregation: COUNT/SUM ... FILTER
  // (WHERE ...) — the declarative form of q02's CASE-WHEN pivoting,
  // and a single-pass replacement for N filtered subqueries. Both
  // engines parse the standard syntax and fold the predicate into the
  // aggregate buffer update (one scan, map-side combined). Sums stay
  // exact DECIMAL; the one share closes as a division of exact longs.
  private val q292 = QueryDef(
    "q292_filter_clause",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority,
          COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_final,
          COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_final,
          CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS final_share
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_final,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_final,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS final_share
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    covers = Seq("SQL-filter-clause"))

  // ------------------------------------------------- star EXCEPT
  // Wide-table hygiene: project everything but the bulky columns.
  // Spark spells it `* EXCEPT (...)`, DuckDB `* EXCLUDE (...)` — the
  // semantics pin is that both drop the named columns and keep the
  // REST in declaration order, so the hash gate catches any column-
  // order or retention divergence. Scan-level column pruning still
  // applies: the excluded columns never leave the reader.
  private val q293 = QueryDef(
    "q293_star_except",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT * EXCEPT (text)
        FROM documents
        WHERE doc_id % 25 = 0
        ORDER BY doc_id""")
    },
    Some("""SELECT * EXCLUDE (text)
      FROM documents
      WHERE doc_id % 25 = 0
      ORDER BY doc_id"""),
    covers = Seq("SQL-star-except"))

  // ------------------------------------------------- multi distinct
  // Three DIFFERENT distinct aggregates in one GROUP BY — distinct
  // customers, distinct order days, and distinct (customer, day)
  // pairs per priority. Catalyst plans this as ONE scan with an
  // Expand (row replicated per distinct group) feeding hash
  // aggregates — the single-pass shape whose demotion to
  // SortAggregate q88 had to engineer around, pinned here against
  // DuckDB's tuple-DISTINCT semantics (NULL-free columns, so tuple
  // and multi-arg distinct agree). The pair count also yields the
  // average orders a customer places per active day as one exact
  // division.
  private val q294 = QueryDef(
    "q294_multi_distinct",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("p"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d"))
      o.groupBy("p")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(col("d")).as("n_days"),
          countDistinct(col("o_custkey"), col("d")).as("n_cust_days"))
        .select(col("p"), col("n_orders"), col("n_custs"), col("n_days"),
          col("n_cust_days"),
          (col("n_orders").cast("double") / col("n_cust_days").cast("double"))
            .as("orders_per_cust_day"))
        .orderBy("p")
    },
    Some("""SELECT o_orderpriority AS p,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
        CAST(COUNT(DISTINCT (o_custkey, CAST(o_orderdate AS DATE))) AS BIGINT)
          AS n_cust_days,
        CAST(COUNT(*) AS DOUBLE)
          / CAST(COUNT(DISTINCT (o_custkey, CAST(o_orderdate AS DATE)))
                 AS DOUBLE) AS orders_per_cust_day
      FROM orders GROUP BY 1 ORDER BY p"""),
    covers = Seq("AGG-multi-distinct"))

  // ------------------------------------------------- bounce rate
  // Daily bounce rate: share of sessions (30-minute inactivity gaps,
  // q42's sessionization rule) that contain exactly ONE event — the
  // engagement metric every product dashboard leads with. Session ids
  // are a running sum of integer gap-flips per user (the q283 island
  // technique on time instead of type); each session dates to its
  // FIRST event's day; per-day tallies are exact counts and the rate
  // is one division. One user-partitioned window pass + two
  // aggregates — no self-joins at any scale.
  private val q295 = QueryDef(
    "q295_bounce_rate",
    (s, dir) => {
      val gapUs = 30L * 60L * 1000000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val sessions = e
        .withColumn("prev", lag(col("us"), 1).over(wSeq))
        .withColumn("flip",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("flip")).over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
      sessions
        .withColumn("d", to_date(timestamp_micros(col("start_us"))))
        .groupBy("d")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("bounces"))
        .select(col("d"), col("n_sessions"), col("bounces"),
          (col("bounces").cast("double") / col("n_sessions").cast("double"))
            .as("bounce_rate"))
        .orderBy("d")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      f AS (SELECT *,
          CASE WHEN LAG(us) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) IS NULL
               OR us - LAG(us) OVER (PARTITION BY user_id
                 ORDER BY us, event_id) > 30 * 60 * CAST(1000000 AS BIGINT)
               THEN 1 ELSE 0 END AS flip
        FROM e),
      i AS (SELECT *,
          CAST(SUM(flip) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sid
        FROM f),
      sess AS (SELECT user_id, sid,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          MIN(us) AS start_us
        FROM i GROUP BY 1, 2),
      daily AS (SELECT CAST(make_timestamp(start_us) AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS n_sessions,
          CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS bounces
        FROM sess GROUP BY 1)
      SELECT d, n_sessions, bounces,
        CAST(bounces AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS bounce_rate
      FROM daily ORDER BY d"""),
    covers = Seq("A-bounce-rate"))

  // ------------------------------------------------- band migration
  // Year-over-year value-band transition matrix: quartile-band every
  // customer's annual revenue (NTILE over a total order, like q261's
  // RFM axes), then count how customers MOVE between bands across
  // consecutive years — the upgrade/churn matrix behind lifecycle
  // marketing. The transition join is an equi-join on (customer,
  // year+1); counts are exact and each row's share closes as one
  // division against its from-band total (window sum over the 4×4
  // matrix grain). Revenue stays DECIMAL until banding, which
  // compares by rank, not value.
  private val q296 = QueryDef(
    "q296_band_migration",
    (s, dir) => {
      val cy = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("c"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val banded = cy.withColumn("band",
        ntile(4).over(Window.partitionBy("yr")
          .orderBy(desc("rev"), asc("c"))).cast("long"))
      val from = banded.select(col("c"), col("yr"),
        col("band").as("band_from"))
      val to = banded.select(col("c"), (col("yr") - 1L).as("yr"),
        col("band").as("band_to"))
      val trans = from.join(to, Seq("c", "yr"))
        .groupBy("band_from", "band_to")
        .agg(count(lit(1)).as("n"))
      val wFrom = Window.partitionBy("band_from")
      trans
        .withColumn("from_total", sum(col("n")).over(wFrom))
        .select(col("band_from"), col("band_to"), col("n"),
          (col("n").cast("double") / col("from_total").cast("double"))
            .as("share"))
        .orderBy("band_from", "band_to")
    },
    Some("""WITH cy AS (SELECT o_custkey AS c,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1, 2),
      banded AS (SELECT c, yr,
          CAST(NTILE(4) OVER (PARTITION BY yr ORDER BY rev DESC, c ASC)
            AS BIGINT) AS band
        FROM cy),
      trans AS (SELECT f.band AS band_from, t.band AS band_to,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM banded f JOIN banded t ON t.c = f.c AND t.yr = f.yr + 1
        GROUP BY 1, 2)
      SELECT band_from, band_to, n,
        CAST(n AS DOUBLE) /
          CAST(CAST(SUM(n) OVER (PARTITION BY band_from) AS BIGINT) AS DOUBLE)
          AS share
      FROM trans ORDER BY band_from, band_to"""),
    covers = Seq("A-band-migration"))

  // ------------------------------------------------- catalog coverage
  // Dead-stock audit: per brand, how much of the catalog has never
  // been ordered. One left-anti join of the part dim against the
  // distinct traded part keys (the fact side collapses to its key set
  // FIRST — the aggregate-before-join shape, so the join is
  // dim × distinct-keys, not dim × fact), then exact per-brand
  // tallies and one division.
  private val q299 = QueryDef(
    "q299_catalog_coverage",
    (s, dir) => {
      val traded = t(s, dir, "lineitem").select(col("l_partkey")).distinct()
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val dead = p.join(traded, col("p_partkey") === col("l_partkey"),
        "left_anti")
        .groupBy("p_brand").agg(count(lit(1)).as("n_dead"))
      p.groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
        .join(dead, Seq("p_brand"), "left")
        .withColumn("n_dead", coalesce(col("n_dead"), lit(0L)))
        .select(col("p_brand"), col("n_parts"), col("n_dead"),
          (col("n_dead").cast("double") / col("n_parts").cast("double"))
            .as("dead_share"))
        .orderBy("p_brand")
    },
    Some("""WITH traded AS (SELECT DISTINCT l_partkey FROM lineitem),
      dead AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_dead
        FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM traded)
        GROUP BY 1),
      tot AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1)
      SELECT t.p_brand, t.n_parts, COALESCE(d.n_dead, 0) AS n_dead,
        CAST(COALESCE(d.n_dead, 0) AS DOUBLE) / CAST(t.n_parts AS DOUBLE)
          AS dead_share
      FROM tot t LEFT JOIN dead d ON t.p_brand = d.p_brand
      ORDER BY t.p_brand"""),
    covers = Seq("A-catalog-coverage"))

  // ------------------------------------------------- revenue bridge
  // Why did revenue move? Per segment, the year-over-year delta
  // decomposes into a VOLUME effect ((n₂−n₁)·p̄₁), a RATE effect
  // ((p̄₂−p̄₁)·n₁) and the interaction — the Laspeyres bridge every
  // finance review walks. Inputs are exact (counts, DECIMAL sums);
  // each effect is ONE fixed IEEE tree over them (the average order
  // values are rationals s/n — the trees keep the division innermost
  // and identical on both engines), and the three effects
  // reconstruct the exact delta algebraically. One (segment, year)
  // aggregate + a self-join on year+1.
  private val q301 = QueryDef(
    "q301_revenue_bridge",
    (s, dir) => {
      val sy = t(s, dir, "orders").join(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).as("rev"))
      val y1 = sy.select(col("seg"), col("yr"),
        col("n").as("n1"), col("rev").as("rev1"))
      val y2 = sy.select(col("seg"), (col("yr") - 1L).as("yr"),
        col("n").as("n2"), col("rev").as("rev2"))
      val p1 = col("rev1").cast("double") / col("n1").cast("double")
      val p2 = col("rev2").cast("double") / col("n2").cast("double")
      y1.join(y2, Seq("seg", "yr"))
        .select(col("seg"), col("yr"), col("n1"), col("n2"),
          col("rev1").cast("double").as("rev_y1"),
          col("rev2").cast("double").as("rev_y2"),
          (col("rev2") - col("rev1")).cast("double").as("delta"),
          ((col("n2") - col("n1")).cast("double") * p1).as("volume_effect"),
          ((p2 - p1) * col("n1").cast("double")).as("rate_effect"),
          ((p2 - p1) * (col("n2") - col("n1")).cast("double"))
            .as("interaction"))
        .orderBy("seg", "yr")
    },
    Some("""WITH sy AS (SELECT c_mktsegment AS seg,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2)
      SELECT a.seg, a.yr, a.n AS n1, b.n AS n2,
        CAST(a.rev AS DOUBLE) AS rev_y1,
        CAST(b.rev AS DOUBLE) AS rev_y2,
        CAST(b.rev - a.rev AS DOUBLE) AS delta,
        CAST(b.n - a.n AS DOUBLE)
          * (CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE)) AS volume_effect,
        (CAST(b.rev AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE))
          * CAST(a.n AS DOUBLE) AS rate_effect,
        (CAST(b.rev AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.rev AS DOUBLE) / CAST(a.n AS DOUBLE))
          * CAST(b.n - a.n AS DOUBLE) AS interaction
      FROM sy a JOIN sy b ON b.seg = a.seg AND b.yr = a.yr + 1
      ORDER BY a.seg, a.yr"""),
    covers = Seq("A-revenue-bridge"))

  // ------------------------------------------------- waterfall
  // The finance waterfall per year: gross bookings → discount given →
  // net → tax collected → billed, from TPC-H's pricing algebra
  // (extprice · (1−disc) · (1+tax)). Every step is an exact DECIMAL
  // product-sum — discounts and tax rates are 2-decimal fractions, so
  // the per-line amounts are exact at DECIMAL(18,4)/(18,6) and the
  // yearly sums close bit-stably under any partitioning; the derived
  // rates are one division each. The whole report is one scan + one
  // year-grain aggregate.
  private val q303 = QueryDef(
    "q303_revenue_waterfall",
    (s, dir) => {
      val ext = dec(col("l_extendedprice"))
      val disc = dec(col("l_discount"))
      val tax = dec(col("l_tax"))
      val discAmt = (ext * disc).cast(DecimalType(18, 4))
      val net = (ext * (dec(lit(1)) - disc))
        .cast(DecimalType(18, 4))
      val taxAmt = (net * tax).cast(DecimalType(18, 6))
      t(s, dir, "lineitem")
        .groupBy(year(to_date(col("l_shipdate"))).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_lines"),
          sum(ext).as("gross"),
          sum(discAmt).as("discount_given"),
          sum(net).as("net"),
          sum(taxAmt).as("tax_collected"))
        .select(col("yr"), col("n_lines"),
          col("gross").cast("double").as("gross"),
          col("discount_given").cast("double").as("discount_given"),
          col("net").cast("double").as("net"),
          col("tax_collected").cast("double").as("tax_collected"),
          (col("discount_given").cast("double") / col("gross").cast("double"))
            .as("discount_rate"),
          (col("tax_collected").cast("double") / col("net").cast("double"))
            .as("effective_tax_rate"))
        .orderBy("yr")
    },
    Some("""WITH li AS (SELECT
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS ext,
          CAST(l_discount AS DECIMAL(18,2)) AS disc,
          CAST(l_tax AS DECIMAL(18,2)) AS tax
        FROM lineitem),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_lines,
          SUM(ext) AS gross,
          SUM(CAST(ext * disc AS DECIMAL(18,4))) AS discount_given,
          SUM(CAST(ext * (CAST(1 AS DECIMAL(18,2)) - disc) AS DECIMAL(18,4)))
            AS net,
          SUM(CAST(CAST(ext * (CAST(1 AS DECIMAL(18,2)) - disc)
                AS DECIMAL(18,4)) * tax AS DECIMAL(18,6))) AS tax_collected
        FROM li GROUP BY yr)
      SELECT yr, n_lines,
        CAST(gross AS DOUBLE) AS gross,
        CAST(discount_given AS DOUBLE) AS discount_given,
        CAST(net AS DOUBLE) AS net,
        CAST(tax_collected AS DOUBLE) AS tax_collected,
        CAST(discount_given AS DOUBLE) / CAST(gross AS DOUBLE)
          AS discount_rate,
        CAST(tax_collected AS DOUBLE) / CAST(net AS DOUBLE)
          AS effective_tax_rate
      FROM g ORDER BY yr"""),
    covers = Seq("A-waterfall"))

  // ------------------------------------------------- time to threshold
  // Per user: how many events until lifetime value crosses 1000, and
  // when. Running DECIMAL(18,2) sum over the (ts, event_id) total
  // order, first crossing picked by row_number — the funnel question
  // ("how long to activation") asked exactly. One partitioned window,
  // no iteration.
  private val q314 = QueryDef(
    "q314_time_to_threshold",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("ts"), dec(col("value")).as("v"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = e.withColumn("cum", sum(col("v")).over(w))
        .withColumn("idx", row_number().over(w).cast("long"))
      val crossed = cum.filter(col("cum") >= 1000)
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
      crossed.withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("idx").as("n_events_to_cross"),
          col("ts").as("cross_ts"),
          col("cum").cast("double").as("value_at_cross"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id, ts,
          SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum,
          CAST(row_number()
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS idx
        FROM events),
      x AS (SELECT user_id, idx, ts, cum,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM c WHERE cum >= 1000)
      SELECT user_id, idx AS n_events_to_cross, ts AS cross_ts,
        CAST(cum AS DOUBLE) AS value_at_cross
      FROM x WHERE rn = 1
      ORDER BY user_id"""),
    covers = Seq("W-threshold-crossing"))

  // ------------------------------------------------- relative bands
  // Length bands RELATIVE to each language's own distribution: per
  // lang P25/P75 (percentile_disc, exact order statistics), every doc
  // classified short/mid/long against its language's quartiles. The
  // quartile table is |langs| rows — broadcast back onto the scan, so
  // the classification costs one small-side join at any corpus size.
  private val q315 = QueryDef(
    "q315_relative_length_bands",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val qs = d.groupBy("lang").agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("p25"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("p75"))
      d.join(broadcast(qs), Seq("lang"))
        .withColumn("band",
          when(col("n_chars") < col("p25"), "short")
            .when(col("n_chars") > col("p75"), "long")
            .otherwise("mid"))
        .groupBy("lang", "band")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("schars"))
        .select(col("lang"), col("band"), col("n_docs"),
          col("min_chars"), col("max_chars"),
          (col("schars").cast("double") / col("n_docs").cast("double"))
            .as("mean_chars"))
        .orderBy("lang", "band")
    },
    Some("""WITH qs AS (SELECT lang,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
          percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
        FROM documents GROUP BY lang),
      b AS (SELECT d.lang,
          CASE WHEN n_chars < p25 THEN 'short'
               WHEN n_chars > p75 THEN 'long'
               ELSE 'mid' END AS band, n_chars
        FROM documents d JOIN qs USING (lang))
      SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
      FROM b GROUP BY lang, band
      ORDER BY lang, band"""),
    covers = Seq("A-relative-bands"))

  // ------------------------------------------------- dominant behavior
  // Two-level aggregation: each user's dominant event type (argmax
  // with (count desc, type asc) tie-break), then the population
  // profiled by dominant type — how many users, and how dominant the
  // dominant type actually is (ratio of exact sums, NOT a mean of
  // per-user ratios: a sum of rational doubles would be partial-
  // aggregation-order dependent).
  private val q316 = QueryDef(
    "q316_dominant_type_profile",
    (s, dir) => {
      val uc = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id")
        .orderBy(desc("cnt"), asc("event_type"))
      val tot = uc.groupBy("user_id").agg(sum(col("cnt")).as("total"))
      uc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(tot, Seq("user_id"))
        .groupBy(col("event_type").as("dominant_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cnt")).as("events_covered"),
          sum(col("total")).as("total_events"))
        .withColumn("dominance",
          col("events_covered").cast("double") / col("total_events").cast("double"))
        .orderBy("dominant_type")
    },
    Some("""WITH uc AS (SELECT user_id, event_type,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type),
      tot AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS total
              FROM uc GROUP BY user_id),
      dom AS (SELECT user_id, event_type, cnt,
          row_number() OVER (PARTITION BY user_id
            ORDER BY cnt DESC, event_type) AS rn
        FROM uc)
      SELECT event_type AS dominant_type,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(cnt) AS BIGINT) AS events_covered,
        CAST(SUM(total) AS BIGINT) AS total_events,
        CAST(SUM(cnt) AS DOUBLE) / CAST(SUM(total) AS DOUBLE) AS dominance
      FROM dom JOIN tot USING (user_id)
      WHERE rn = 1
      GROUP BY event_type
      ORDER BY dominant_type"""),
    covers = Seq("A-dominant-profile"))

  // ------------------------------------------------- burst detection
  // Abuse/bot screening: each user's busiest 10 minutes — count over
  // a RANGE frame of 599 epoch-seconds preceding each event, maxed
  // per user, top-20 burstiest. The value-based frame (not ROWS)
  // makes ties and gaps exact on both engines.
  private val q318 = QueryDef(
    "q318_burst_top_users",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) DIV 1000000").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-599, Window.currentRow)
      e.withColumn("burst", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max(col("burst")).as("max_burst"), count(lit(1)).as("n_events"))
        .orderBy(desc("max_burst"), asc("user_id")).limit(20)
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec
          FROM events),
      b AS (SELECT user_id, CAST(COUNT(*) OVER (PARTITION BY user_id
            ORDER BY sec RANGE BETWEEN 599 PRECEDING AND CURRENT ROW)
          AS BIGINT) AS burst
        FROM e)
      SELECT user_id, MAX(burst) AS max_burst,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM b GROUP BY user_id
      ORDER BY max_burst DESC, user_id LIMIT 20"""),
    covers = Seq("W-burst"))

  // ------------------------------------------------- supplier churn
  // Year-over-year supplier retention per nation: of the suppliers
  // who shipped in year y, how many ship again in y+1 (retained),
  // how many vanish (churned), how many are new. Distinct
  // (nation, year, suppkey) activity sets self-join on (nation,
  // suppkey, y+1) — the distinct collapses the fact table before any
  // join, so the join sides are supplier-cardinality, not
  // fact-cardinality.
  private val q319 = QueryDef(
    "q319_supplier_churn",
    (s, dir) => {
      val act = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").as("nk"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"),
          col("l_suppkey").as("sk"))
        .distinct()
        // materialized once (supplier-cardinality rows): feeds the
        // activity count and BOTH sides of the retention self-join —
        // each re-ran the 3-table fact join + distinct otherwise
        .localCheckpoint()
      val cnt = act.groupBy("nk", "yr").agg(count(lit(1)).as("active"))
      val ret = act.as("a")
        .join(act.as("b"),
          col("a.nk") === col("b.nk") && col("a.sk") === col("b.sk") &&
            col("b.yr") === col("a.yr") + 1)
        .groupBy(col("a.nk").as("nk"), col("a.yr").as("yr"))
        .agg(count(lit(1)).as("retained"))
      val nxt = cnt.select(col("nk"), (col("yr") - 1).as("yr"),
        col("active").as("active_next"))
      cnt.join(nxt, Seq("nk", "yr"))
        .join(ret, Seq("nk", "yr"), "left")
        .withColumn("retained", coalesce(col("retained"), lit(0L)))
        .join(t(s, dir, "nation"), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("yr"), col("active"),
          (col("active") - col("retained")).as("churned"),
          (col("active_next") - col("retained")).as("new_next"),
          (col("retained").cast("double") / col("active").cast("double"))
            .as("retention_rate"))
        .orderBy("nation", "yr")
    },
    Some("""WITH act AS (SELECT DISTINCT s_nationkey AS nk,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          l_suppkey AS sk
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey),
      cnt AS (SELECT nk, yr, CAST(COUNT(*) AS BIGINT) AS active
              FROM act GROUP BY nk, yr),
      ret AS (SELECT a.nk, a.yr, CAST(COUNT(*) AS BIGINT) AS retained
              FROM act a JOIN act b
                ON a.nk = b.nk AND a.sk = b.sk AND b.yr = a.yr + 1
              GROUP BY a.nk, a.yr)
      SELECT n_name AS nation, c.yr, c.active,
        c.active - COALESCE(retained, 0) AS churned,
        nx.active - COALESCE(retained, 0) AS new_next,
        CAST(COALESCE(retained, 0) AS DOUBLE) / CAST(c.active AS DOUBLE)
          AS retention_rate
      FROM cnt c
      JOIN cnt nx ON nx.nk = c.nk AND nx.yr = c.yr + 1
      LEFT JOIN ret r ON r.nk = c.nk AND r.yr = c.yr
      JOIN nation ON c.nk = n_nationkey
      ORDER BY nation, c.yr"""),
    covers = Seq("A-churn"))

  // ------------------------------------------------- reorder cadence
  // Days between consecutive orders per customer (lag over the
  // (o_orderdate, o_orderkey) total order), rolled up to the market
  // segment as a ratio of exact sums — mean inter-order gap and the
  // worst gap, the cadence table a retention model trains on.
  private val q320 = QueryDef(
    "q320_reorder_intervals",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val gaps = o.withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast(LongType))
        .filter(col("gap").isNotNull)
      gaps.join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("total_gap_days"),
          max(col("gap")).as("max_gap_days"))
        .withColumn("mean_gap_days",
          col("total_gap_days").cast("double") / col("n_gaps").cast("double"))
        .orderBy("segment")
    },
    Some("""WITH g AS (SELECT o_custkey,
          CAST(CAST(o_orderdate AS DATE)
            - lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS BIGINT)
            AS gap
        FROM orders)
      SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(SUM(gap) AS BIGINT) AS total_gap_days,
        MAX(gap) AS max_gap_days,
        CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gap_days
      FROM g JOIN customer ON o_custkey = c_custkey
      WHERE gap IS NOT NULL
      GROUP BY c_mktsegment
      ORDER BY segment"""),
    covers = Seq("W-reorder-cadence"))

  // ------------------------------------------------- mix shift
  // How the order-priority mix shifted between the first and last
  // year of the data: share of orders per priority in each endpoint
  // year and the percentage-point delta. The endpoint years are
  // data-driven scalars (min/max year) broadcast onto a 2×|priority|
  // aggregate — no hard-coded calendar.
  private val q321 = QueryDef(
    "q321_priority_mix_shift",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority").as("prio"),
        year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
      val span = o.agg(min(col("yr")).as("y1"), max(col("yr")).as("y2"))
      val counts = o.crossJoin(broadcast(span))
        .filter(col("yr") === col("y1") || col("yr") === col("y2"))
        .groupBy("prio")
        .agg(sum(when(col("yr") === col("y1"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("yr") === col("y2"), 1L).otherwise(0L)).as("c2"))
      val tot = counts.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      counts.crossJoin(broadcast(tot))
        .crossJoin(broadcast(span))
        .select(col("prio"), col("y1"), col("y2"), col("c1"), col("c2"),
          (col("c1").cast("double") / col("t1").cast("double")).as("share_first"),
          (col("c2").cast("double") / col("t2").cast("double")).as("share_last"),
          (col("c2").cast("double") / col("t2").cast("double") -
            col("c1").cast("double") / col("t1").cast("double")).as("delta"))
        .orderBy("prio")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS prio,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders),
      span AS (SELECT MIN(yr) AS y1, MAX(yr) AS y2 FROM o),
      counts AS (SELECT prio,
          CAST(SUM(CASE WHEN yr = y1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
          CAST(SUM(CASE WHEN yr = y2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM o, span WHERE yr = y1 OR yr = y2
        GROUP BY prio),
      tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
          CAST(SUM(c2) AS BIGINT) AS t2 FROM counts)
      SELECT prio, y1, y2, c1, c2,
        CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS share_first,
        CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS share_last,
        CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)
          - CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS delta
      FROM counts, tot, span
      ORDER BY prio"""),
    covers = Seq("A-mix-shift"))

  // ------------------------------------------------- price response
  // Does a deeper discount move more units? Pearson correlation of
  // (discount, quantity) per brand from integer sufficient statistics
  // — both measures are 2-decimal, so ×100 fixed-point makes every
  // sum exact; the q304 pattern with the final products in
  // DECIMAL(38,0) for 10¹²-row safety.
  private val q322 = QueryDef(
    "q322_discount_qty_corr",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          (col("l_discount").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("x"),
          (col("l_quantity").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("y"))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      val g = li.groupBy("brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n_lines")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n_lines")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n_lines")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("brand"), col("n_lines"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("corr"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand,
          CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      g AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM li GROUP BY brand),
      f AS (SELECT brand, n_lines,
          CAST(n_lines AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n_lines AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n_lines AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT brand, n_lines,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY brand"""),
    covers = Seq("A-price-response"))

  // ------------------------------------------------- trade balance
  // Per nation: export revenue (its suppliers' shipped lines) vs
  // import revenue (its customers' purchased lines) and the net
  // balance — TPC-H q7's flow matrix folded to a per-nation balance
  // sheet. Both flows are exact DECIMAL(18,4) sums joined full-outer
  // on the nation, dims broadcast onto the fact scans.
  private val q323 = QueryDef(
    "q323_nation_trade_balance",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      val li = t(s, dir, "lineitem")
      val exp = li
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"))
        .agg(sum(rev).as("exports"))
      val imp = li
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum(rev).as("imports"))
      exp.join(imp, Seq("nk"), "full_outer")
        .join(broadcast(t(s, dir, "nation")), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          coalesce(col("exports"), lit(0).cast(DecimalType(18, 4)))
            .cast("double").as("exports"),
          coalesce(col("imports"), lit(0).cast(DecimalType(18, 4)))
            .cast("double").as("imports"),
          (coalesce(col("exports"), lit(0).cast(DecimalType(18, 4))) -
            coalesce(col("imports"), lit(0).cast(DecimalType(18, 4))))
            .cast("double").as("balance"))
        .orderBy("nation")
    },
    Some("""WITH rev AS (SELECT l_suppkey, l_orderkey,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r
        FROM lineitem),
      exp AS (SELECT s_nationkey AS nk, SUM(r) AS exports
              FROM rev JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY s_nationkey),
      imp AS (SELECT c_nationkey AS nk, SUM(r) AS imports
              FROM rev
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              GROUP BY c_nationkey)
      SELECT n_name AS nation,
        CAST(COALESCE(exports, 0) AS DOUBLE) AS exports,
        CAST(COALESCE(imports, 0) AS DOUBLE) AS imports,
        CAST(COALESCE(exports, 0) - COALESCE(imports, 0) AS DOUBLE) AS balance
      FROM exp FULL OUTER JOIN imp USING (nk)
      JOIN nation ON nk = n_nationkey
      ORDER BY nation"""),
    covers = Seq("J-trade-balance"))

  // ------------------------------------------------- returns trend
  // Monthly return rate two ways: by line count and value-weighted
  // (returned revenue / total revenue) — the two diverge when returns
  // skew expensive, which is exactly what the audit looks for. One
  // scan, one month-grain aggregate; rates are divisions of an exact
  // long and two exact DECIMAL(18,4) sums.
  private val q324 = QueryDef(
    "q324_returns_trend",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      t(s, dir, "lineitem")
        .groupBy(date_trunc("month", to_date(col("l_shipdate")))
          .cast("date").as("month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"),
          sum(rev).as("rev"),
          sum(when(col("l_returnflag") === "R", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).as("rev_returned"))
        .select(col("month"), col("n_lines"), col("n_returned"),
          (col("n_returned").cast("double") / col("n_lines").cast("double"))
            .as("return_rate"),
          (col("rev_returned").cast("double") / col("rev").cast("double"))
            .as("value_return_rate"))
        .orderBy("month")
    },
    Some("""WITH li AS (SELECT
          CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
          l_returnflag,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS rev
        FROM lineitem),
      g AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_returned,
          SUM(rev) AS rev,
          SUM(CASE WHEN l_returnflag = 'R' THEN rev
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS rev_returned
        FROM li GROUP BY month)
      SELECT month, n_lines, n_returned,
        CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS return_rate,
        CAST(rev_returned AS DOUBLE) / CAST(rev AS DOUBLE)
          AS value_return_rate
      FROM g ORDER BY month"""),
    covers = Seq("A-returns-trend"))

  // ------------------------------------------------- fulfillment progress
  // Per order the fraction of lines already finalized (l_linestatus
  // 'F'), bucketed to a progress decile; per order-year the bucket
  // histogram. The per-order ratio is exact (10·f DIV n buckets an
  // integral division), so the two-level aggregate never touches a
  // float until the final share.
  private val q325 = QueryDef(
    "q325_fulfillment_progress",
    (s, dir) => {
      val per = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_linestatus") === "F", 1L).otherwise(0L)).as("f"))
        .withColumn("bucket", expr("(10 * f) DIV n"))
      val g = per.groupBy("yr", "bucket").agg(count(lit(1)).as("n_orders"))
      val tot = per.groupBy("yr").agg(count(lit(1)).as("t"))
      g.join(tot, Seq("yr"))
        .select(col("yr"), col("bucket"), col("n_orders"),
          (col("n_orders").cast("double") / col("t").cast("double"))
            .as("share"))
        .orderBy("yr", "bucket")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS f
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey, yr),
      b AS (SELECT yr, (10 * f) // n AS bucket FROM per),
      g AS (SELECT yr, bucket, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM b GROUP BY yr, bucket),
      tot AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS t FROM b GROUP BY yr)
      SELECT yr, bucket, n_orders,
        CAST(n_orders AS DOUBLE) / CAST(t AS DOUBLE) AS share
      FROM g JOIN tot USING (yr)
      ORDER BY yr, bucket"""),
    covers = Seq("A-progress-histogram"))

  // ------------------------------------------------- line-position effect
  // Do later line positions in an order carry smaller quantities?
  // Mean quantity and mean revenue per l_linenumber, each a ratio of
  // exact sums, plus the ratio against position 1 (broadcast scalar
  // join) — a classic position-bias audit with no window at all.
  private val q326 = QueryDef(
    "q326_line_position_effect",
    (s, dir) => {
      val qty = dec(col("l_quantity"))
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_linenumber").cast(LongType).as("pos"))
        .agg(count(lit(1)).as("n_lines"), sum(qty).as("sq"))
        .withColumn("mean_qty",
          col("sq").cast("double") / col("n_lines").cast("double"))
      val base = g.filter(col("pos") === 1)
        .select(col("sq").as("sq1"), col("n_lines").as("n1"))
      g.crossJoin(broadcast(base))
        .select(col("pos"), col("n_lines"), col("mean_qty"),
          ((col("sq").cast("double") / col("n_lines").cast("double")) /
            (col("sq1").cast("double") / col("n1").cast("double")))
            .as("vs_first"))
        .orderBy("pos")
    },
    Some("""WITH g AS (SELECT CAST(l_linenumber AS BIGINT) AS pos,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem GROUP BY pos),
      base AS (SELECT sq AS sq1, n_lines AS n1 FROM g WHERE pos = 1)
      SELECT pos, n_lines,
        CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE) AS mean_qty,
        (CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE))
          / (CAST(sq1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS vs_first
      FROM g, base
      ORDER BY pos"""),
    covers = Seq("A-position-effect"))

  // ------------------------------------------------- sourcing complexity
  // How many distinct suppliers and supplier nations an order touches:
  // the multi-sourcing histogram (1 supplier, 2, 3+ …) with the share
  // of orders and of revenue in each class — supply-chain coordination
  // cost in one table. Per-order distincts shuffle on the order key
  // once; the histogram is tiny.
  private val q327 = QueryDef(
    "q327_sourcing_complexity",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      // two-level aggregate: the direct double-countDistinct plans an
      // Expand that triples every fact row; pre-aggregating revenue per
      // (order, supplier) first keeps map-side combine, and nationkey
      // is FUNCTIONALLY DETERMINED by suppkey so the per-supplier frame
      // loses nothing — n_supp becomes a plain count and only the
      // already-shrunk frame pays the one remaining distinct
      // (round 12: the direct double-countDistinct form was re-A/B'd
      // in-session — 2.72 vs 3.09 s, the Expand is still worse — the
      // two-level shape stays)
      val perSupp = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"), col("s_nationkey"))
        .agg(sum(rev).as("rev_s"))
      val per = perSupp
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          countDistinct(col("s_nationkey")).as("n_nations"),
          sum(col("rev_s")).as("rev"))
      val tot = per.agg(count(lit(1)).as("t_orders"), sum(col("rev")).as("t_rev"))
      per.groupBy("n_supp")
        .agg(count(lit(1)).as("n_orders"),
          max(col("n_nations")).as("max_nations"),
          sum(col("rev")).as("class_rev"))
        .crossJoin(broadcast(tot))
        .select(col("n_supp"), col("n_orders"), col("max_nations"),
          (col("n_orders").cast("double") / col("t_orders").cast("double"))
            .as("order_share"),
          (col("class_rev").cast("double") / col("t_rev").cast("double"))
            .as("revenue_share"))
        .orderBy("n_supp")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
          CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY l_orderkey),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_orders,
          SUM(rev) AS t_rev FROM per)
      SELECT n_supp, CAST(COUNT(*) AS BIGINT) AS n_orders,
        MAX(n_nations) AS max_nations,
        CAST(COUNT(*) AS DOUBLE) / CAST(t_orders AS DOUBLE) AS order_share,
        CAST(SUM(rev) AS DOUBLE) / CAST(t_rev AS DOUBLE) AS revenue_share
      FROM per, tot
      GROUP BY n_supp, t_orders, t_rev
      ORDER BY n_supp"""),
    covers = Seq("A-sourcing-complexity"))

  // ------------------------------------------------- day-of-month uniformity
  // Synthetic-data tell / batch-artifact detector: order volume by
  // day-of-month with each day's chi-square contribution against the
  // uniform expectation. Expected counts are exact rationals (total/
  // n_days kept as numerator·denominator integers); the contribution
  // (o·d − t)²/(t·d) is evaluated as one fixed IEEE tree over exact
  // longs — no ln, no rounding.
  private val q328 = QueryDef(
    "q328_dom_uniformity",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(dayofmonth(to_date(col("o_orderdate"))).cast(LongType).as("dom"))
      val g = o.groupBy("dom").agg(count(lit(1)).as("obs"))
      val tot = g.agg(sum(col("obs")).as("t"), count(lit(1)).as("d"))
      g.crossJoin(broadcast(tot))
        .select(col("dom"), col("obs"),
          (col("t").cast("double") / col("d").cast("double")).as("expected"),
          (((col("obs") * col("d") - col("t")) *
            (col("obs") * col("d") - col("t"))).cast("double") /
            (col("t") * col("d")).cast("double")).as("chi2_part"))
        .orderBy("dom")
    },
    Some("""WITH o AS (SELECT
          CAST(EXTRACT(day FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS dom
        FROM orders),
      g AS (SELECT dom, CAST(COUNT(*) AS BIGINT) AS obs FROM o GROUP BY dom),
      tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS t,
          CAST(COUNT(*) AS BIGINT) AS d FROM g)
      SELECT dom, obs,
        CAST(t AS DOUBLE) / CAST(d AS DOUBLE) AS expected,
        CAST((obs * d - t) * (obs * d - t) AS DOUBLE)
          / CAST(t * d AS DOUBLE) AS chi2_part
      FROM g, tot
      ORDER BY dom"""),
    covers = Seq("A-calendar-uniformity"))

  // ------------------------------------------------- audience overlap
  // Jaccard overlap of user audiences between event-type pairs: do
  // the same users click and purchase, or are the populations
  // disjoint? Distinct (type, user) postings self-join on user — the
  // |types|² matrix from sets collapsed to user cardinality first.
  private val q333 = QueryDef(
    "q333_audience_overlap",
    (s, dir) => {
      val a = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sz = a.groupBy("event_type").agg(count(lit(1)).as("n"))
      val inter = a.as("x").join(a.as("y"), Seq("user_id"))
        .filter(col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(sz.select(col("event_type").as("type_a"), col("n").as("na")),
          Seq("type_a"))
        .join(sz.select(col("event_type").as("type_b"), col("n").as("nb")),
          Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          (col("n_both").cast("double") /
            (col("na") + col("nb") - col("n_both")).cast("double"))
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
      sz AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             FROM a GROUP BY event_type),
      inter AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_both
        FROM a x JOIN a y ON x.user_id = y.user_id
          AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, n_both,
        CAST(n_both AS DOUBLE) / CAST(na.n + nb.n - n_both AS DOUBLE) AS jaccard
      FROM inter
      JOIN sz na ON na.event_type = type_a
      JOIN sz nb ON nb.event_type = type_b
      ORDER BY type_a, type_b"""),
    covers = Seq("A-audience-overlap"))

  // ------------------------------------------------- exit states
  // Where do users end? The distribution of each user's LAST event
  // type ((ts, event_id) total order) — the exit-state table of a
  // churn analysis, with the share per exit type. One window, one
  // aggregate.
  private val q336 = QueryDef(
    "q336_exit_state",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      val last = t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val g = last.groupBy(col("event_type").as("exit_type"))
        .agg(count(lit(1)).as("n_users"))
      val tot = g.agg(sum(col("n_users")).as("t"))
      g.crossJoin(broadcast(tot))
        .select(col("exit_type"), col("n_users"),
          (col("n_users").cast("double") / col("t").cast("double"))
            .as("share"))
        .orderBy("exit_type")
    },
    Some("""WITH last AS (SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      g AS (SELECT event_type AS exit_type, CAST(COUNT(*) AS BIGINT)
          AS n_users
        FROM last WHERE rn = 1 GROUP BY event_type),
      tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS t FROM g)
      SELECT exit_type, n_users,
        CAST(n_users AS DOUBLE) / CAST(t AS DOUBLE) AS share
      FROM g, tot
      ORDER BY exit_type"""),
    covers = Seq("A-exit-state"))

  // ------------------------------------------------- repeat-rate cohorts
  // Customers cohorted by first-order year: cohort size, repeat rate
  // (≥2 lifetime orders), and mean lifetime orders — did early
  // cohorts stick better? Cohort assignment is a min over the
  // customer's orders; every rate is one exact division.
  private val q340 = QueryDef(
    "q340_repeat_rate_cohort",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(year(to_date(col("o_orderdate"))).cast(LongType))
          .as("cohort"),
          count(lit(1)).as("n_orders"))
      per.groupBy("cohort")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("repeaters"),
          sum(col("n_orders")).as("orders"))
        .select(col("cohort"), col("n_customers"), col("repeaters"),
          (col("repeaters").cast("double") / col("n_customers").cast("double"))
            .as("repeat_rate"),
          (col("orders").cast("double") / col("n_customers").cast("double"))
            .as("mean_orders"))
        .orderBy("cohort")
    },
    Some("""WITH per AS (SELECT o_custkey,
          MIN(CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT))
            AS cohort,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey)
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS repeaters,
        CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
        CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_orders
      FROM per GROUP BY cohort
      ORDER BY cohort"""),
    covers = Seq("A-repeat-cohort"))

  // ------------------------------------------------- new-product share
  // Of each year's revenue, how much comes from parts first sold that
  // same year — the innovation-dependence ratio. Part birth year is a
  // min over the part's lines (one aggregate at part cardinality,
  // broadcast back); the share is exact DECIMAL over DECIMAL.
  private val q341 = QueryDef(
    "q341_new_product_share",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), rev.as("r"),
          year(to_date(col("l_shipdate"))).cast(LongType).as("yr"))
      val birth = li.groupBy("l_partkey").agg(min(col("yr")).as("birth"))
      li.join(broadcast(birth), Seq("l_partkey"))
        .groupBy("yr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("total_rev"),
          sum(when(col("birth") === col("yr"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("new_rev"),
          countDistinct(when(col("birth") === col("yr"), col("l_partkey")))
            .as("n_new_parts"))
        .select(col("yr"), col("n_new_parts"),
          col("total_rev").cast("double").as("total_rev"),
          col("new_rev").cast("double").as("new_rev"),
          (col("new_rev").cast("double") / col("total_rev").cast("double"))
            .as("new_share"))
        .orderBy("yr")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r,
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr
        FROM lineitem),
      birth AS (SELECT l_partkey, MIN(yr) AS birth FROM li
                GROUP BY l_partkey),
      g AS (SELECT yr,
          CAST(SUM(r) AS DECIMAL(38,4)) AS total_rev,
          CAST(SUM(CASE WHEN birth = yr THEN r
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS new_rev,
          CAST(COUNT(DISTINCT CASE WHEN birth = yr THEN l_partkey END)
            AS BIGINT) AS n_new_parts
        FROM li JOIN birth USING (l_partkey)
        GROUP BY yr)
      SELECT yr, n_new_parts,
        CAST(total_rev AS DOUBLE) AS total_rev,
        CAST(new_rev AS DOUBLE) AS new_rev,
        CAST(new_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) AS new_share
      FROM g ORDER BY yr"""),
    covers = Seq("A-new-product"))

  // ------------------------------------------------- weekend effect
  // Weekend vs weekday order economics per customer nation: order
  // counts, mean order value for each regime, and the weekend/weekday
  // value ratio — exact DECIMAL totals, three terminal divisions.
  private val q342 = QueryDef(
    "q342_weekend_effect",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          dec(col("o_totalprice")).as("v"),
          (dayofweek(to_date(col("o_orderdate"))).isin(1, 7)).as("wkend"))
      o.groupBy("nation")
        .agg(sum(when(col("wkend"), 1L).otherwise(0L)).as("we_orders"),
          sum(when(!col("wkend"), 1L).otherwise(0L)).as("wd_orders"),
          sum(when(col("wkend"), col("v"))
            .otherwise(dec(lit(0)))).as("we_rev"),
          sum(when(!col("wkend"), col("v"))
            .otherwise(dec(lit(0)))).as("wd_rev"))
        .filter(col("we_orders") > 0 && col("wd_orders") > 0)
        .select(col("nation"), col("we_orders"), col("wd_orders"),
          (col("we_rev").cast("double") / col("we_orders").cast("double"))
            .as("we_mean"),
          (col("wd_rev").cast("double") / col("wd_orders").cast("double"))
            .as("wd_mean"),
          ((col("we_rev").cast("double") / col("we_orders").cast("double")) /
            (col("wd_rev").cast("double") / col("wd_orders").cast("double")))
            .as("weekend_lift"))
        .orderBy("nation")
    },
    Some("""WITH o AS (SELECT n_name AS nation,
          CAST(o_totalprice AS DECIMAL(18,2)) AS v,
          dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6) AS wkend
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      g AS (SELECT nation,
          CAST(SUM(CASE WHEN wkend THEN 1 ELSE 0 END) AS BIGINT) AS we_orders,
          CAST(SUM(CASE WHEN NOT wkend THEN 1 ELSE 0 END) AS BIGINT)
            AS wd_orders,
          SUM(CASE WHEN wkend THEN v ELSE CAST(0 AS DECIMAL(18,2)) END)
            AS we_rev,
          SUM(CASE WHEN NOT wkend THEN v ELSE CAST(0 AS DECIMAL(18,2)) END)
            AS wd_rev
        FROM o GROUP BY nation)
      SELECT nation, we_orders, wd_orders,
        CAST(we_rev AS DOUBLE) / CAST(we_orders AS DOUBLE) AS we_mean,
        CAST(wd_rev AS DOUBLE) / CAST(wd_orders AS DOUBLE) AS wd_mean,
        (CAST(we_rev AS DOUBLE) / CAST(we_orders AS DOUBLE))
          / (CAST(wd_rev AS DOUBLE) / CAST(wd_orders AS DOUBLE))
          AS weekend_lift
      FROM g WHERE we_orders > 0 AND wd_orders > 0
      ORDER BY nation"""),
    covers = Seq("A-weekend-effect"))

  // ------------------------------------------------- nation growth
  // Revenue growth per supplier nation between the first and last
  // full data year: exact DECIMAL endpoint revenues and the linear
  // growth rate (last−first)/first — no CAGR (pow() ULP-diverges
  // across libm, like ln in q52).
  private val q343 = QueryDef(
    "q343_nation_growth",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), rev.as("r"),
          year(to_date(col("l_shipdate"))).cast(LongType).as("yr"))
      val span = li.agg(min(col("yr")).as("y1"), max(col("yr")).as("y2"))
      li.crossJoin(broadcast(span))
        .filter(col("yr") === col("y1") || col("yr") === col("y2"))
        .groupBy("nation")
        .agg(first(col("y1")).as("y_first"), first(col("y2")).as("y_last"),
          sum(when(col("yr") === col("y1"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("rev_first"),
          sum(when(col("yr") === col("y2"), col("r"))
            .otherwise(lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(38, 4)).as("rev_last"))
        .filter(col("rev_first") > 0)
        .select(col("nation"), col("y_first"), col("y_last"),
          col("rev_first").cast("double").as("rev_first"),
          col("rev_last").cast("double").as("rev_last"),
          ((col("rev_last") - col("rev_first")).cast("double") /
            col("rev_first").cast("double")).as("growth"))
        .orderBy("nation")
    },
    Some("""WITH li AS (SELECT n_name AS nation,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r,
          CAST(EXTRACT(year FROM CAST(l_shipdate AS DATE)) AS BIGINT) AS yr
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey),
      span AS (SELECT MIN(yr) AS y1, MAX(yr) AS y2 FROM li),
      g AS (SELECT nation, MIN(y1) AS y_first, MIN(y2) AS y_last,
          CAST(SUM(CASE WHEN yr = y1 THEN r ELSE CAST(0 AS DECIMAL(18,4))
            END) AS DECIMAL(38,4)) AS rev_first,
          CAST(SUM(CASE WHEN yr = y2 THEN r ELSE CAST(0 AS DECIMAL(18,4))
            END) AS DECIMAL(38,4)) AS rev_last
        FROM li, span WHERE yr = y1 OR yr = y2
        GROUP BY nation)
      SELECT nation, y_first, y_last,
        CAST(rev_first AS DOUBLE) AS rev_first,
        CAST(rev_last AS DOUBLE) AS rev_last,
        CAST(rev_last - rev_first AS DOUBLE) / CAST(rev_first AS DOUBLE)
          AS growth
      FROM g WHERE rev_first > 0
      ORDER BY nation"""),
    covers = Seq("A-growth"))

  // ------------------------------------------------- basket depth
  // Mean order value as a function of basket depth (line count):
  // does a deeper basket mean proportionally more revenue? Per-order
  // rollup, then depth buckets with exact DECIMAL totals and one
  // division — the curve a pricing model reads.
  private val q345 = QueryDef(
    "q345_basket_depth_curve",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      val per = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("depth"), sum(rev).as("r"))
      per.groupBy("depth")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("r")).cast(DecimalType(38, 4)).as("tot"))
        .select(col("depth"), col("n_orders"),
          (col("tot").cast("double") / col("n_orders").cast("double"))
            .as("mean_order_value"),
          (col("tot").cast("double") /
            (col("n_orders") * col("depth")).cast("double"))
            .as("mean_line_value"))
        .orderBy("depth")
    },
    Some("""WITH per AS (SELECT l_orderkey,
          CAST(COUNT(*) AS BIGINT) AS depth,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS r
        FROM lineitem GROUP BY l_orderkey),
      g AS (SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM(r) AS DECIMAL(38,4)) AS tot
        FROM per GROUP BY depth)
      SELECT depth, n_orders,
        CAST(tot AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_order_value,
        CAST(tot AS DOUBLE) / CAST(n_orders * depth AS DOUBLE)
          AS mean_line_value
      FROM g ORDER BY depth"""),
    covers = Seq("A-basket-depth"))

  // Classification boundaries compare exact DECIMALs (5·cum ≤ 4·tot, never
  // 0.8 as a double).

  // ------------------------------------------------- ABC classification
  // Inventory ABC: parts ranked by revenue, class A = the prefix
  // holding ≤80% of revenue, B to 95%, C the tail. The cutoffs
  // compare exact DECIMALs (5·cum ≤ 4·total, 20·cum ≤ 19·total) so
  // the boundary part lands identically on both engines. One ranked
  // window at part cardinality, then a three-row rollup.
  private val q349 = QueryDef(
    "q349_abc_classification",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      val per = t(s, dir, "lineitem")
        .groupBy("l_partkey").agg(sum(rev).cast(DecimalType(38, 4)).as("r"))
      val w = Window.orderBy(desc("r"), asc("l_partkey"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("np"))
      val cum = per
        .withColumn("cum", sum(col("r")).over(w).cast(DecimalType(38, 4)))
        .crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 5 <= col("t") * 4, "A")
            .when(col("cum") * 20 <= col("t") * 19, "B")
            .otherwise("C"))
      cum.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r")).cast(DecimalType(38, 4)).as("cls_rev"),
          first(col("t")).as("t"), first(col("np")).as("np"))
        .select(col("cls"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("part_share"),
          (col("cls_rev").cast("double") / col("t").cast("double"))
            .as("rev_share"))
        .orderBy("cls")
    },
    Some("""WITH per AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS np FROM per),
      c AS (SELECT r,
          CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey) AS DECIMAL(38,4))
            AS cum
        FROM per),
      k AS (SELECT r, CASE WHEN cum * 5 <= t * 4 THEN 'A'
            WHEN cum * 20 <= t * 19 THEN 'B' ELSE 'C' END AS cls, t, np
        FROM c, tot)
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS part_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE)
          / CAST(MIN(t) AS DOUBLE) AS rev_share
      FROM k GROUP BY cls
      ORDER BY cls"""),
    covers = Seq("A-abc"))

  // ------------------------------------------------- sequence asymmetry
  // Temporal ordering bias between event-type pairs: of the users who
  // perform both A and B, how many saw A strictly first? First-
  // occurrence times per (user, type) collapse the log once; the
  // pair join runs at user cardinality. 0.5 = no ordering convention.
  private val q356 = QueryDef(
    "q356_sequence_asymmetry",
    (s, dir) => {
      val firsts = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(min(col("ts")).as("first_ts"))
      firsts.as("a").join(firsts.as("b"), Seq("user_id"))
        .filter(col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("a.first_ts") < col("b.first_ts"), 1L).otherwise(0L))
            .as("a_first"),
          sum(when(col("b.first_ts") < col("a.first_ts"), 1L).otherwise(0L))
            .as("b_first"))
        .select(col("type_a"), col("type_b"), col("n_users"),
          col("a_first"), col("b_first"),
          (col("a_first").cast("double") / col("n_users").cast("double"))
            .as("a_first_rate"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH firsts AS (SELECT user_id, event_type, MIN(ts) AS first_ts
          FROM events GROUP BY user_id, event_type)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
          AS BIGINT) AS a_first,
        CAST(SUM(CASE WHEN b.first_ts < a.first_ts THEN 1 ELSE 0 END)
          AS BIGINT) AS b_first,
        CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS a_first_rate
      FROM firsts a JOIN firsts b ON a.user_id = b.user_id
        AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
      ORDER BY type_a, type_b"""),
    covers = Seq("A-seq-asymmetry"))

  // ------------------------------------------------- funnel latency
  // How long from first click to first purchase, for users who did
  // both and in that order: the latency distribution (P25/P50/P90 in
  // seconds, exact order statistics over integral epoch diffs) plus
  // the conversion count — q132 counts the funnel, this prices its
  // speed.
  private val q357 = QueryDef(
    "q357_funnel_latency",
    (s, dir) => {
      val firsts = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("ts")))
          .as("first_click"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("first_purchase"))
        .filter(col("first_click").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_click"))
        .withColumn("latency_s",
          expr("(unix_micros(first_purchase) - unix_micros(first_click))" +
            " DIV 1000000"))
      firsts.agg(count(lit(1)).as("n_converted"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p25_s"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p50_s"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)")
          .cast(LongType).as("p90_s"),
        max(col("latency_s")).as("max_s"))
    },
    Some("""WITH firsts AS (SELECT user_id,
          MIN(CASE WHEN event_type = 'click' THEN ts END) AS fc,
          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id),
      lat AS (SELECT
          CAST((epoch_us(fp) - epoch_us(fc)) // 1000000 AS BIGINT)
            AS latency_s
        FROM firsts
        WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp > fc)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p25_s,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p50_s,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_s)
          AS BIGINT) AS p90_s,
        MAX(latency_s) AS max_s
      FROM lat"""),
    covers = Seq("A-funnel-latency"))

  // ------------------------------------------------- brand loyalty
  // Loyalty segmentation: customers by distinct-brand breadth
  // (1 brand = loyal, 2–3, 4+) with each segment's customer count and
  // exact revenue share — does breadth buy more than loyalty? The
  // per-customer rollup shuffles once on the customer key.
  private val q358 = QueryDef(
    "q358_brand_loyalty",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      // measured (same-JVM interleaved A/B, round 9): the two-level
      // (customer, brand) pre-aggregate that beats Expand elsewhere is
      // SLOWER here — the Expand duplicates only a 3-byte brand column
      // while the pre-agg pays a second full shuffle — so the direct
      // countDistinct shape stays
      val per = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("p_brand")).as("n_brands"),
          sum(rev).cast(DecimalType(38, 4)).as("r"))
        .withColumn("segment",
          when(col("n_brands") === 1, "1_loyal")
            .when(col("n_brands") <= 3, "2_mixed")
            .otherwise("3_broad"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("nc"))
      per.groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("r")).cast(DecimalType(38, 4)).as("seg_rev"))
        .crossJoin(broadcast(tot))
        .select(col("segment"), col("n_customers"),
          (col("n_customers").cast("double") / col("nc").cast("double"))
            .as("customer_share"),
          (col("seg_rev").cast("double") / col("t").cast("double"))
            .as("revenue_share"),
          (col("seg_rev").cast("double") / col("n_customers").cast("double"))
            .as("rev_per_customer"))
        .orderBy("segment")
    },
    Some("""WITH per AS (SELECT o_custkey,
          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey),
      seg AS (SELECT CASE WHEN n_brands = 1 THEN '1_loyal'
            WHEN n_brands <= 3 THEN '2_mixed' ELSE '3_broad' END AS segment,
          r FROM per),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS nc FROM per)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(nc) AS DOUBLE) AS customer_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE) / CAST(MIN(t) AS DOUBLE)
          AS revenue_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS rev_per_customer
      FROM seg, tot GROUP BY segment
      ORDER BY segment"""),
    covers = Seq("A-loyalty"))

  // ------------------------------------------------- user-age curve
  // Activity by user age: events per days-since-first-event index,
  // aligned across users — the lifecycle curve (do users warm up or
  // burn out?). First-event times collapse the log once; the age
  // index is an exact date diff.
  private val q360 = QueryDef(
    "q360_user_age_curve",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("d"))
      val first = e.groupBy("user_id").agg(min(col("d")).as("d0"))
      val aged = e.join(first, Seq("user_id"))
        .withColumn("age_d", datediff(col("d"), col("d0")).cast(LongType))
      val g = aged.groupBy("age_d")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      g.filter(col("age_d") <= 13)
        .select(col("age_d"), col("n_events"), col("n_users"),
          (col("n_events").cast("double") / col("n_users").cast("double"))
            .as("events_per_user"))
        .orderBy("age_d")
    },
    Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      f AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY user_id),
      aged AS (SELECT e.user_id, CAST(d - d0 AS BIGINT) AS age_d
        FROM e JOIN f USING (user_id)),
      g AS (SELECT age_d, CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM aged GROUP BY age_d)
      SELECT age_d, n_events, n_users,
        CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE) AS events_per_user
      FROM g WHERE age_d <= 13
      ORDER BY age_d"""),
    covers = Seq("A-user-age"))

  // ------------------------------------------------- price dispersion
  // Does the same part sell at wildly different effective unit
  // prices? Per part the exact P10/P50/P90 of the unit price in
  // cents, dispersion = (P90−P10)/P50; per brand the MEDIAN part
  // dispersion (an order statistic — no rational-double summation at
  // all). Unit cents floor exactly in INTEGER arithmetic:
  // floor(net·100/qty) = (net·10⁴) DIV (100·qty) — decimal division
  // would round the quotient at engine-specific scales before the
  // floor, integer division cannot.
  private val q361 = QueryDef(
    "q361_price_dispersion",
    (s, dir) => {
      val n4 = ((dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount"))))
        .cast(DecimalType(18, 4)) * 10000).cast(LongType)
      val cents = expr("n4 DIV (100 * qty)")
      val withC = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
          n4.as("n4"), col("l_quantity").cast(LongType).as("qty"))
        .select(col("brand"), col("pk"), cents.as("c"))
      // ExactQuantiles rank-select (round 12): the round-9 "wash at
      // sf0.1 AND sf1" adjudication for this many-small-groups shape
      // no longer holds under the r11 heap/GC fixes — in-session A/B
      // now measures the built-in ObjectHashAggregate at 3.06→2.43
      // and 3.09→2.15 s (sf0.1) and 3.37→2.41 s (sf1 rung), because
      // the dominant job was the 3-buffer percentile aggregate, not
      // the extra exchange. n_sales: `c` is never null (qty ≥ 1 in
      // every SF — integer division of non-null longs), so
      // __group_n ≡ count(*); the oracle hash-checks that equivalence
      // at every gate SF. Values are bit-identical by ExactQuantilesSpec.
      val per = graft.operators.ExactQuantiles
        .disc(withC, Seq("brand", "pk"), "c",
          Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)))
        .select(col("brand"), col("pk"), col("__group_n").as("n_sales"),
          col("p10").cast(LongType).as("p10"),
          col("p50").cast(LongType).as("p50"),
          col("p90").cast(LongType).as("p90"))
        .filter(col("n_sales") >= 3 && col("p50") > 0)
        .withColumn("disp",
          (col("p90") - col("p10")).cast("double") / col("p50").cast("double"))
      per.groupBy("brand")
        .agg(count(lit(1)).as("n_parts"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY disp)")
            .as("median_dispersion"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand, l_partkey AS pk,
          CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) * 10000 AS BIGINT)
            // (100 * CAST(l_quantity AS BIGINT)) AS c
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      per AS (SELECT brand, pk, CAST(COUNT(*) AS BIGINT) AS n_sales,
          CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p10,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p50,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p90
        FROM li GROUP BY brand, pk),
      d AS (SELECT brand, pk,
          CAST(p90 - p10 AS DOUBLE) / CAST(p50 AS DOUBLE) AS disp
        FROM per WHERE n_sales >= 3 AND p50 > 0)
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY disp)
          AS median_dispersion
      FROM d GROUP BY brand
      ORDER BY brand"""),
    covers = Seq("A-price-dispersion"))

  // ------------------------------------------------- bucket skew audit
  // Would hashing orders into 32 shuffle buckets balance? The md5-
  // bucket histogram with max/mean ratio and the uniformity chi² —
  // the skew forecast run before choosing a partition key (the same
  // engine-agnostic md5 both engines agree on, q346). Exact counts;
  // two divisions.
  private val q362 = QueryDef(
    "q362_bucket_skew_audit",
    (s, dir) => {
      val b = t(s, dir, "orders")
        .select((conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
          16, 10).cast(LongType) % 32).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val tot = b.agg(sum(col("n")).as("t"), count(lit(1)).as("k"),
        max(col("n")).as("mx"))
      b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          (col("n").cast("double") * col("k").cast("double") /
            col("t").cast("double")).as("load_factor"),
          (col("mx").cast("double") * col("k").cast("double") /
            col("t").cast("double")).as("max_load_factor"),
          (((col("n") * col("k") - col("t")) *
            (col("n") * col("k") - col("t"))).cast("double") /
            (col("t") * col("k")).cast("double")).as("chi2_part"))
        .orderBy("bucket")
    },
    Some("""WITH b AS (SELECT
          CAST(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
            AS BIGINT) % 32 AS BIGINT) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY bucket),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
          CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS mx FROM b)
      SELECT bucket, n,
        CAST(n AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE)
          AS load_factor,
        CAST(mx AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE)
          AS max_load_factor,
        CAST((n * k - t) * (n * k - t) AS DOUBLE) / CAST(t * k AS DOUBLE)
          AS chi2_part
      FROM b, tot
      ORDER BY bucket"""),
    covers = Seq("A-bucket-skew"))

  // ------------------------------------------------- ingestion drift
  // doc_id as ingestion-order proxy: mean length and language count
  // per ingestion decile (ntile over the unique doc_id order) — did
  // the corpus change character as it was collected? The last/first
  // ratio summarizes the drift in one number per row.
  private val q363 = QueryDef(
    "q363_ingestion_drift",
    (s, dir) => {
      // ingestion deciles over ALL DOCUMENTS — row-scale; two-phase
      // GlobalOrder form (round-12 window audit, bit-identical by
      // GlobalOrderSpec)
      val dec = graft.operators.GlobalOrder.ntile(
          t(s, dir, "documents"), 10, col("doc_id"), leadDesc = false,
          Seq(col("doc_id")), "decile")
        .withColumn("decile", col("decile").cast(LongType))
      val g = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sc"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("mean_chars",
          col("sc").cast("double") / col("n_docs").cast("double"))
      val base = g.filter(col("decile") === 1)
        .select(col("sc").as("sc1"), col("n_docs").as("nd1"))
      g.crossJoin(broadcast(base))
        .select(col("decile"), col("n_docs"), col("n_langs"),
          col("mean_chars"),
          ((col("sc").cast("double") / col("n_docs").cast("double")) /
            (col("sc1").cast("double") / col("nd1").cast("double")))
            .as("vs_first_decile"))
        .orderBy("decile")
    },
    Some("""WITH d AS (SELECT n_chars, lang,
          CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile
        FROM documents),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS sc,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM d GROUP BY decile),
      base AS (SELECT sc AS sc1, n_docs AS nd1 FROM g WHERE decile = 1)
      SELECT decile, n_docs, n_langs,
        CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
        (CAST(sc AS DOUBLE) / CAST(n_docs AS DOUBLE))
          / (CAST(sc1 AS DOUBLE) / CAST(nd1 AS DOUBLE)) AS vs_first_decile
      FROM g, base
      ORDER BY decile"""),
    covers = Seq("A-ingestion-drift"))

  // ------------------------------------------------- props correlation
  // Does the JSON payload's k field track the event value? Pearson
  // per event type over (k, value·100) — JSON extraction feeding
  // integer sufficient statistics (the q322 pattern); k parses with
  // get_json_object ↔ json_extract, both exact integers.
  private val q371 = QueryDef(
    "q371_props_value_corr",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("x"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("y"))
        .filter(col("x").isNotNull)
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val g = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("event_type"), col("n").as("n_events"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("corr"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS x,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM e GROUP BY event_type),
      f AS (SELECT event_type, n,
          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT event_type, n AS n_events,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY event_type"""),
    covers = Seq("J-json-corr"))

  // ------------------------------------------------- early value share
  // How front-loaded is user value: of each user's lifetime event
  // value, the share earned within 7 days of their first event.
  // Reports the POOLED share (ratio of exact DECIMAL sums) and the
  // median per-user share (an order statistic over the per-user
  // rationals) — mean-of-ratios vs ratio-of-sums, both deliberately.
  private val q378 = QueryDef(
    "q378_early_value_share",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("ts"),
        dec(col("value")).as("v"))
      val first = e.groupBy("user_id").agg(min(col("ts")).as("t0"))
      val per = e.join(first, Seq("user_id"))
        .withColumn("early",
          col("ts") < col("t0") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id")
        .agg(sum(col("v")).as("total"),
          sum(when(col("early"), col("v"))
            .otherwise(dec(lit(0)))).as("early_v"))
        .filter(col("total") > 0)
        .withColumn("share",
          col("early_v").cast("double") / col("total").cast("double"))
      per.agg(count(lit(1)).as("n_users"),
        (sum(col("early_v")).cast("double") /
          sum(col("total")).cast("double")).as("pooled_share"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY share)")
          .as("median_user_share"))
    },
    Some("""WITH e AS (SELECT user_id, ts,
          CAST(value AS DECIMAL(18,2)) AS v FROM events),
      f AS (SELECT user_id, MIN(ts) AS t0 FROM e GROUP BY user_id),
      per AS (SELECT e.user_id, SUM(v) AS total,
          SUM(CASE WHEN ts < t0 + INTERVAL 7 DAY THEN v
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS early_v
        FROM e JOIN f USING (user_id)
        GROUP BY e.user_id),
      sh AS (SELECT user_id, total, early_v,
          CAST(early_v AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM per WHERE total > 0)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(early_v) AS DOUBLE) / CAST(SUM(total) AS DOUBLE)
          AS pooled_share,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY share)
          AS median_user_share
      FROM sh"""),
    covers = Seq("A-early-value"))

  // ------------------------------------------------- reorder gap spectrum
  // The spectrum of customer reorder gaps in weekly buckets (gap DIV
  // 7): how much reordering is same-week vs monthly vs dormant —
  // q320's cadence means, spread into the full distribution.
  private val q383 = QueryDef(
    "q383_reorder_gap_spectrum",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val gaps = o.withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast(LongType))
        .filter(col("gap").isNotNull)
        .withColumn("week_bucket", expr("gap DIV 7"))
      val tot = gaps.count()
      gaps.groupBy("week_bucket")
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("share", col("n_gaps").cast("double") / lit(tot.toDouble))
        .orderBy("week_bucket")
    },
    Some("""WITH g AS (SELECT
          CAST(CAST(o_orderdate AS DATE)
            - lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS BIGINT)
            AS gap
        FROM orders),
      f AS (SELECT gap // 7 AS week_bucket FROM g WHERE gap IS NOT NULL),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM f)
      SELECT week_bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t) AS DOUBLE) AS share
      FROM f, tot
      GROUP BY week_bucket
      ORDER BY week_bucket"""),
    covers = Seq("W-gap-spectrum"))

  // ------------------------------------------------- single-source risk
  // Supply-chain fragility: parts by how many distinct suppliers ship
  // them, with the revenue riding on single-sourced parts — the
  // at-risk revenue share procurement watches. Part-level distincts
  // collapse the fact once; revenue stays exact DECIMAL.
  private val q384 = QueryDef(
    "q384_single_source_risk",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      // pre-aggregate per (part, supplier) so the distinct-supplier
      // count is a plain count over the shrunk frame — the direct
      // countDistinct+sum Expand duplicates every fact row and loses
      // one decade up (same-JVM A/B, sf1: 2.30 s vs 1.87 s; sf0.1 a
      // wash) — the shape that survives the scale-up ships
      val per = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(rev).as("r_ps"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("r_ps")).cast(DecimalType(38, 4)).as("r"))
      val tot = per.agg(sum(col("r")).cast(DecimalType(38, 4)).as("t"),
        count(lit(1)).as("np"))
      per.groupBy("n_suppliers")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("r")).cast(DecimalType(38, 4)).as("band_rev"))
        .crossJoin(broadcast(tot))
        .select(col("n_suppliers"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("part_share"),
          (col("band_rev").cast("double") / col("t").cast("double"))
            .as("revenue_share"))
        .orderBy("n_suppliers")
    },
    Some("""WITH per AS (SELECT l_partkey,
          CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS r
        FROM lineitem GROUP BY l_partkey),
      tot AS (SELECT CAST(SUM(r) AS DECIMAL(38,4)) AS t,
          CAST(COUNT(*) AS BIGINT) AS np FROM per)
      SELECT n_suppliers, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS part_share,
        CAST(CAST(SUM(r) AS DECIMAL(38,4)) AS DOUBLE) / CAST(MIN(t) AS DOUBLE)
          AS revenue_share
      FROM per, tot GROUP BY n_suppliers
      ORDER BY n_suppliers"""),
    covers = Seq("A-single-source"))

  // ------------------------------------------------- sequence position
  // Does value grow with engagement? Mean event value by the user's
  // within-sequence position band (events 1–10, 11–20, …): one
  // partitioned row_number, exact DECIMAL sums per band, one division
  // — the engagement-value curve.
  private val q385 = QueryDef(
    "q385_seq_position_value",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = t(s, dir, "events")
        .withColumn("pos", row_number().over(w).cast(LongType))
        .withColumn("band", expr("(pos - 1) DIV 10"))
        .select(col("band"), dec(col("value")).as("v"))
      e.groupBy("band")
        .agg(count(lit(1)).as("n_events"),
          sum(col("v")).cast(DecimalType(38, 2)).as("sv"))
        .select(col("band"), col("n_events"),
          (col("sv").cast("double") / col("n_events").cast("double"))
            .as("mean_value"))
        .orderBy("band")
    },
    Some("""WITH e AS (SELECT
          (CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS BIGINT) - 1) // 10 AS band,
          CAST(value AS DECIMAL(18,2)) AS v
        FROM events)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS mean_value
      FROM e GROUP BY band
      ORDER BY band"""),
    covers = Seq("A-seq-position"))

  // ------------------------------------------------- retention triangle
  // The classic weekly retention triangle: users cohorted by first-
  // event week, each (cohort, week-index ≤ 7) cell counting distinct
  // returners and the retention rate against the cohort size. Two
  // collapses (first-event, cell distinct) — no window at all.
  private val q386 = QueryDef(
    "q386_retention_triangle",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        date_trunc("week", to_date(col("ts"))).cast("date").as("wk"))
      val first = e.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      val cells = e.join(first, Seq("user_id"))
        .withColumn("wk_idx",
          expr("datediff(wk, cohort) DIV 7"))
        .filter(col("wk_idx") <= 7)
        .groupBy("cohort", "wk_idx")
        .agg(countDistinct(col("user_id")).as("users"))
      val size = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      cells.join(broadcast(size), Seq("cohort"))
        .select(col("cohort"), col("wk_idx"), col("users"),
          col("cohort_size"),
          (col("users").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy("cohort", "wk_idx")
    },
    Some("""WITH e AS (SELECT user_id,
          CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
        FROM events),
      f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
      cells AS (SELECT cohort, CAST(wk - cohort AS BIGINT) // 7 AS wk_idx,
          CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        FROM e JOIN f USING (user_id)
        WHERE CAST(wk - cohort AS BIGINT) // 7 <= 7
        GROUP BY cohort, wk_idx),
      sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
             FROM f GROUP BY cohort)
      SELECT cohort, wk_idx, users, cohort_size,
        CAST(users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      FROM cells JOIN sz USING (cohort)
      ORDER BY cohort, wk_idx"""),
    covers = Seq("A-retention-triangle"))

  // ------------------------------------------------- brand seasonality
  // Brand revenue-share swing across quarters: each brand's min and
  // max quarterly share of total revenue and the swing between them —
  // which brands are seasonal. Shares are rational doubles, but only
  // order-free summaries (min/max) aggregate them.
  private val q390 = QueryDef(
    "q390_brand_seasonal_swing",
    (s, dir) => {
      val rev = (dec(col("l_extendedprice")) *
        (dec(lit(1)) -
          dec(col("l_discount")))).cast(DecimalType(18, 4))
      val q = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          quarter(to_date(col("l_shipdate"))).cast(LongType).as("qtr"),
          rev.as("r"))
      val cell = q.groupBy("brand", "qtr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("br"))
      val qtot = q.groupBy("qtr")
        .agg(sum(col("r")).cast(DecimalType(38, 4)).as("qt"))
      val shares = cell.join(broadcast(qtot), Seq("qtr"))
        .withColumn("share",
          col("br").cast("double") / col("qt").cast("double"))
      shares.groupBy("brand")
        .agg(count(lit(1)).as("n_quarters"),
          min(col("share")).as("min_share"),
          max(col("share")).as("max_share"))
        .withColumn("swing", col("max_share") - col("min_share"))
        .orderBy("brand")
    },
    Some("""WITH li AS (SELECT p_brand AS brand,
          CAST(EXTRACT(quarter FROM CAST(l_shipdate AS DATE)) AS BIGINT)
            AS qtr,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4)) AS r
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      cell AS (SELECT brand, qtr, CAST(SUM(r) AS DECIMAL(38,4)) AS br
               FROM li GROUP BY brand, qtr),
      qtot AS (SELECT qtr, CAST(SUM(r) AS DECIMAL(38,4)) AS qt
               FROM li GROUP BY qtr),
      sh AS (SELECT brand, cell.qtr,
          CAST(br AS DOUBLE) / CAST(qt AS DOUBLE) AS share
        FROM cell JOIN qtot USING (qtr))
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_quarters,
        MIN(share) AS min_share, MAX(share) AS max_share,
        MAX(share) - MIN(share) AS swing
      FROM sh GROUP BY brand
      ORDER BY brand"""),
    covers = Seq("A-brand-seasonality"))

  // ------------------------------------------------- activity histogram
  // The shape of user activity: users bucketed by event count
  // (DIV 25), with each bucket's user count and share of total events
  // — the participation-inequality chart (a few users usually carry
  // most of the log).
  private val q393 = QueryDef(
    "q393_activity_histogram",
    (s, dir) => {
      val per = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", expr("n DIV 25"))
      val tot = per.agg(sum(col("n")).as("te"), count(lit(1)).as("tu"))
      per.groupBy("bucket")
        .agg(count(lit(1)).as("n_users"), sum(col("n")).as("events"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_users"),
          (col("n_users").cast("double") / col("tu").cast("double"))
            .as("user_share"),
          (col("events").cast("double") / col("te").cast("double"))
            .as("event_share"))
        .orderBy("bucket")
    },
    Some("""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY user_id),
      b AS (SELECT n // 25 AS bucket, n FROM per),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS te,
          CAST(COUNT(*) AS BIGINT) AS tu FROM per)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(tu) AS DOUBLE) AS user_share,
        CAST(SUM(n) AS DOUBLE) / CAST(MIN(te) AS DOUBLE) AS event_share
      FROM b, tot GROUP BY bucket
      ORDER BY bucket"""),
    covers = Seq("A-activity-shape"))

  // ------------------------------------------------- customer trajectory
  // Is each customer's spend trending up or down? First vs last
  // order value over the (date, orderkey) total order — the
  // trajectory census (up / down / flat) per market segment, exact
  // DECIMAL comparisons deciding every class.
  private val q396 = QueryDef(
    "q396_customer_trajectory",
    (s, dir) => {
      val v = dec(col("o_totalprice"))
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), v.as("v"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("o_custkey")))
      val firstLast = o.filter(col("rn") === 1 || col("rn") === col("cnt"))
        .groupBy("o_custkey")
        .agg(max(col("cnt")).as("n_orders"),
          min(when(col("rn") === 1, col("v"))).as("first_v"),
          min(when(col("rn") === col("cnt"), col("v"))).as("last_v"))
        .filter(col("n_orders") >= 2)
        .withColumn("trajectory",
          when(col("last_v") > col("first_v"), "up")
            .when(col("last_v") < col("first_v"), "down")
            .otherwise("flat"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      firstLast.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("segment", "trajectory")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("segment", "trajectory")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders),
      r AS (SELECT o_custkey, v,
          row_number() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
            AS rn,
          COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        FROM o),
      fl AS (SELECT o_custkey, MAX(cnt) AS n_orders,
          MIN(CASE WHEN rn = 1 THEN v END) AS first_v,
          MIN(CASE WHEN rn = cnt THEN v END) AS last_v
        FROM r WHERE rn = 1 OR rn = cnt
        GROUP BY o_custkey),
      cls AS (SELECT o_custkey,
          CASE WHEN last_v > first_v THEN 'up'
               WHEN last_v < first_v THEN 'down'
               ELSE 'flat' END AS trajectory
        FROM fl WHERE n_orders >= 2)
      SELECT c_mktsegment AS segment, trajectory,
        CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cls JOIN customer ON o_custkey = c_custkey
      GROUP BY segment, trajectory
      ORDER BY segment, trajectory"""),
    covers = Seq("A-trajectory"))

  // ------------------------------------------------- quantile grid
  // Two-dimensional quantile control grid: P90 order value in exact
  // cents for every (segment × priority) cell — the slice-and-dice
  // form of q375's time series, one grouped order statistic.
  private val q397 = QueryDef(
    "q397_quantile_grid",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast(LongType)
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("priority"), cents.as("c"))
        .groupBy("segment", "priority")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50_cents"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p90_cents"))
        .orderBy("segment", "priority")
    },
    Some("""SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p50_cents,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p90_cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY segment, priority
      ORDER BY segment, priority"""),
    covers = Seq("A-quantile-grid"))

  // ------------------------------------------------- rolling trend slope
  // 30-day rolling OLS slope of daily revenue — the trend-direction
  // companion to q241's rolling correlation. Every frame sum (Σt, Σy,
  // Σty, Σt²) is an exact integer windowed aggregate; the slope is a
  // single double ratio per day. Only the last 90 days are emitted —
  // a control chart, not a full dump.
  private val q405 = QueryDef(
    "q405_rolling_trend_slope",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum((dec(col("o_totalprice")) * 100)
          .cast(LongType)).as("y"))
      val t0 = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      val idx = daily.crossJoin(broadcast(t0))
        .select(col("d"), col("d1"),
          datediff(col("d"), col("d0")).cast(LongType).as("tt"), col("y"))
      val w = Window.orderBy("tt").rowsBetween(-29, Window.currentRow)
      idx.withColumn("n", count(lit(1)).over(w))
        .withColumn("st", sum(col("tt")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sty", sum(dec38(col("tt")) * dec38(col("y"))).over(w))
        .withColumn("stt", sum(col("tt") * col("tt")).over(w))
        .filter(col("n") >= 10 && datediff(col("d1"), col("d")) < 90)
        .withColumn("den", dec38(col("n")) * col("stt")
          - dec38(col("st")) * dec38(col("st")))
        .filter(col("den") > 0)
        .select(col("d"), col("n").as("n_days"),
          ((dec38(col("n")) * col("sty")
            - dec38(col("st")) * dec38(col("sy"))).cast("double")
            / col("den").cast("double")).as("slope_cents_per_day"))
        .orderBy("d")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY d),
      b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      idx AS (SELECT d, d1, CAST(d - d0 AS BIGINT) AS tt, y
        FROM daily, b),
      r AS (SELECT d, d1, tt, y,
          CAST(COUNT(*) OVER w AS BIGINT) AS n,
          CAST(SUM(tt) OVER w AS BIGINT) AS st,
          CAST(SUM(y) OVER w AS BIGINT) AS sy,
          CAST(SUM(CAST(tt AS HUGEINT) * y) OVER w AS HUGEINT) AS sty,
          CAST(SUM(tt * tt) OVER w AS BIGINT) AS stt
        FROM idx
        WINDOW w AS (ORDER BY tt ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
      f AS (SELECT d, n, st, sy, sty, stt,
          CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS den
        FROM r WHERE n >= 10 AND d1 - d < 90)
      SELECT d, n AS n_days,
        CAST(CAST(n AS HUGEINT) * sty - CAST(st AS HUGEINT) * sy AS DOUBLE)
          / CAST(den AS DOUBLE) AS slope_cents_per_day
      FROM f WHERE den > 0 ORDER BY d"""),
    covers = Seq("W-rolling-slope"))

  // ------------------------------------------------- price ladder
  // Psychological-pricing audit per brand: how much of the catalog
  // sits on the 5 most common price points (the "price ladder"), and
  // what the modal price is. Counts and row_number only — exact, and
  // bounded by the brand × price-point cardinality.
  private val q407 = QueryDef(
    "q407_price_ladder",
    (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_brand").as("brand"),
          (dec(col("p_retailprice")) * 100)
            .cast(LongType).as("c"))
      val pts = p.groupBy("brand", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("brand").orderBy(desc("cnt"), asc("c"))
      val ranked = pts.withColumn("rk", row_number().over(w))
      ranked.groupBy("brand")
        .agg(sum(col("cnt")).as("n_parts"),
          count(lit(1)).as("n_price_points"),
          sum(when(col("rk") <= 5, col("cnt")).otherwise(0L))
            .as("top5_mass"),
          max(when(col("rk") === 1, col("c"))).as("modal_cents"))
        .withColumn("top5_share",
          col("top5_mass").cast("double") / col("n_parts").cast("double"))
        .orderBy("brand")
    },
    Some("""WITH p AS (SELECT p_brand AS brand,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM part),
      pts AS (SELECT brand, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM p GROUP BY brand, c),
      r AS (SELECT *, row_number() OVER (PARTITION BY brand
          ORDER BY cnt DESC, c) AS rk FROM pts)
      SELECT brand, CAST(SUM(cnt) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS BIGINT) AS n_price_points,
        CAST(SUM(CASE WHEN rk <= 5 THEN cnt ELSE 0 END) AS BIGINT)
          AS top5_mass,
        MAX(CASE WHEN rk = 1 THEN c END) AS modal_cents,
        CAST(SUM(CASE WHEN rk <= 5 THEN cnt ELSE 0 END) AS DOUBLE)
          / CAST(SUM(cnt) AS DOUBLE) AS top5_share
      FROM r GROUP BY brand ORDER BY brand"""),
    covers = Seq("A-price-ladder"))

  // ------------------------------------------------- volume discount curve
  // Does buying more cost less per unit? Mean unit price per quantity
  // band as the ratio of exact sums Σ(extendedprice)/Σ(quantity) —
  // never a per-row division — plus each band's share of total
  // quantity. The empirical volume-discount curve.
  private val q413 = QueryDef(
    "q413_volume_discount_curve",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select((((col("l_quantity").cast(LongType) - 1L) / 10L)
          .cast(LongType) * 10L + 1L).as("qty_band_lo"),
          col("l_quantity").cast(LongType).as("q"),
          (dec(col("l_extendedprice")) * 100)
            .cast(LongType).as("pc"))
      val tot = li.agg(sum(col("q")).as("tq"))
      li.groupBy("qty_band_lo")
        .agg(count(lit(1)).as("n_lines"), sum(col("q")).as("sum_qty"),
          sum(col("pc")).as("sum_price_cents"))
        .crossJoin(broadcast(tot))
        .select(col("qty_band_lo"), col("n_lines"), col("sum_qty"),
          (col("sum_price_cents").cast("double")
            / col("sum_qty").cast("double")).as("mean_unit_cents"),
          (col("sum_qty").cast("double") / col("tq").cast("double"))
            .as("qty_share"))
        .orderBy("qty_band_lo")
    },
    Some("""WITH li AS (SELECT
          ((CAST(l_quantity AS BIGINT) - 1) // 10) * 10 + 1 AS qty_band_lo,
          CAST(l_quantity AS BIGINT) AS q,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        FROM lineitem),
      tot AS (SELECT CAST(SUM(q) AS BIGINT) AS tq FROM li)
      SELECT qty_band_lo, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(q) AS BIGINT) AS sum_qty,
        CAST(SUM(pc) AS DOUBLE) / CAST(SUM(q) AS DOUBLE) AS mean_unit_cents,
        CAST(SUM(q) AS DOUBLE) / CAST(MIN(tq) AS DOUBLE) AS qty_share
      FROM li, tot GROUP BY qty_band_lo ORDER BY qty_band_lo"""),
    covers = Seq("A-volume-discount"))

  // ------------------------------------------------- charm pricing
  // Price-ending census over the catalog: .99 / .00 / .50 endings vs
  // everything else, with each ending's catalog share and exact mean
  // price — the "psychological pricing" audit that complements
  // q407's per-brand ladder. Pure modular arithmetic.
  private val q418 = QueryDef(
    "q418_charm_pricing",
    (s, dir) => {
      val p = t(s, dir, "part")
        .select((dec(col("p_retailprice")) * 100)
          .cast(LongType).as("c"))
        .withColumn("ending",
          when(col("c") % 100L === 99L, "charm_99")
            .when(col("c") % 100L === 0L, "round_00")
            .when(col("c") % 100L === 50L, "half_50")
            .otherwise("other"))
      val tot = p.agg(count(lit(1)).as("np"))
      p.groupBy("ending")
        .agg(count(lit(1)).as("n_parts"), sum(col("c")).as("sc"),
          min(col("c")).as("min_cents"), max(col("c")).as("max_cents"))
        .crossJoin(broadcast(tot))
        .select(col("ending"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("catalog_share"),
          (col("sc").cast("double") / col("n_parts").cast("double"))
            .as("mean_cents"),
          col("min_cents"), col("max_cents"))
        .orderBy("ending")
    },
    Some("""WITH p AS (SELECT
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM part),
      e AS (SELECT c, CASE WHEN c % 100 = 99 THEN 'charm_99'
               WHEN c % 100 = 0 THEN 'round_00'
               WHEN c % 100 = 50 THEN 'half_50'
               ELSE 'other' END AS ending
        FROM p),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM e)
      SELECT ending, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(np) AS DOUBLE) AS catalog_share,
        CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_cents,
        MIN(c) AS min_cents, MAX(c) AS max_cents
      FROM e, tot GROUP BY ending ORDER BY ending"""),
    covers = Seq("A-charm-pricing"))

  // ------------------------------------------------- top-decile persistence
  // Are this year's best customers last year's? Per year, the top
  // decile of customers by spend (exact percentile_disc cutoff,
  // inclusive); adjacent years joined on customer, overlap reported
  // as |A∩B| with containment in BOTH directions. The "elite churn"
  // statistic behind loyalty-program design.
  private val q419 = QueryDef(
    "q419_top_decile_persistence",
    (s, dir) => {
      val cy = t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(sum(cents).as("spend"))
        // materialized once: feeds the percentile broadcast build (a
        // separate job) and the top-decile filter
        .localCheckpoint()
      // built-in percentile_disc stays: per-year spend values are
      // per-customer aggregates (many small-ish groups over an
      // already-shrunk frame) — the ExactQuantiles rewrite measured
      // SLOWER here at sf0.1 and sf1 both (same-JVM A/B)
      val cut = cy.groupBy("yr")
        .agg(expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY spend)")
          .cast(LongType).as("p90"))
      val top = cy.join(broadcast(cut), Seq("yr"))
        .filter(col("spend") >= col("p90"))
        .select(col("yr"), col("o_custkey"))
        // materialized once (O(customers/10) rows): read by sizes
        // (twice, via the year-shift self-join) and both sides of the
        // adjacency intersection
        .localCheckpoint()
      val a = top.select(col("o_custkey").as("cust"), col("yr").as("yr_a"))
      val b = top.select(col("o_custkey").as("cust"),
        (col("yr") - 1L).as("yr_b"))
      val sizes = top.groupBy("yr").agg(count(lit(1)).as("n_top"))
      val inter = a.join(b, Seq("cust"))
        .filter(col("yr_a") === col("yr_b"))
        .groupBy(col("yr_a").as("yr")).agg(count(lit(1)).as("n_overlap"))
      sizes.as("s1")
        .join(sizes.as("s2").select((col("yr") - 1L).as("yr"),
          col("n_top").as("n_top_next")), Seq("yr"))
        .join(inter, Seq("yr"), "left")
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .select(col("yr"), col("n_top"), col("n_top_next"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_top").cast("double"))
            .as("retention_rate"),
          (col("n_overlap").cast("double") / col("n_top_next").cast("double"))
            .as("sourced_rate"))
        .orderBy("yr")
    },
    Some("""WITH cy AS (SELECT o_custkey,
          CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders GROUP BY 1, 2),
      cut AS (SELECT yr,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY spend)
            AS BIGINT) AS p90
        FROM cy GROUP BY yr),
      top AS (SELECT cy.yr, o_custkey FROM cy JOIN cut ON cy.yr = cut.yr
        WHERE spend >= p90),
      sizes AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_top
        FROM top GROUP BY yr),
      inter AS (SELECT a.yr, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM top a JOIN top b
          ON a.yr = b.yr - 1 AND a.o_custkey = b.o_custkey
        GROUP BY a.yr)
      SELECT s1.yr, s1.n_top, s2.n_top AS n_top_next,
        COALESCE(n_overlap, 0) AS n_overlap,
        CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(s1.n_top AS DOUBLE)
          AS retention_rate,
        CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(s2.n_top AS DOUBLE)
          AS sourced_rate
      FROM sizes s1 JOIN sizes s2 ON s2.yr = s1.yr + 1
      LEFT JOIN inter ON inter.yr = s1.yr
      ORDER BY s1.yr"""),
    covers = Seq("A-elite-persistence"))

  // ------------------------------------------------- LTV predictiveness
  // Does the FIRST order's size predict everything after it? Pearson
  // between first-order cents and the rest-of-lifetime total per
  // segment — q378 asked how much value lands early; this asks
  // whether the first purchase is a usable signal. Exact moments,
  // one window.
  private val q420 = QueryDef(
    "q420_ltv_predictiveness",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), cents.as("c"))
        .withColumn("rn", row_number().over(w))
      val perCust = o.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          max(when(col("rn") === 1, col("c"))).as("first_c"),
          sum(when(col("rn") > 1, col("c")).otherwise(0L)).as("rest_c"))
        .filter(col("n_orders") >= 2)
      val seg = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = perCust
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("first_c")).as("sx"), sum(col("rest_c")).as("sy"),
          sum(dec38(col("first_c")) * dec38(col("rest_c"))).as("sxy"),
          sum(dec38(col("first_c")) * dec38(col("first_c"))).as("sxx"),
          sum(dec38(col("rest_c")) * dec38(col("rest_c"))).as("syy"))
      val num = dec38(col("n_cust")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_cust")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_cust")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("segment"), col("n_cust"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("first_rest_corr"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders),
      r AS (SELECT o_custkey, c,
          row_number() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
            AS rn
        FROM o),
      pc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
          MAX(CASE WHEN rn = 1 THEN c END) AS first_c,
          CAST(SUM(CASE WHEN rn > 1 THEN c ELSE 0 END) AS BIGINT) AS rest_c
        FROM r GROUP BY o_custkey HAVING COUNT(*) >= 2),
      g AS (SELECT c_mktsegment AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(first_c) AS HUGEINT) AS sx,
          CAST(SUM(rest_c) AS HUGEINT) AS sy,
          CAST(SUM(CAST(first_c AS HUGEINT) * rest_c) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(first_c AS HUGEINT) * first_c) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(rest_c AS HUGEINT) * rest_c) AS HUGEINT) AS syy
        FROM pc JOIN customer ON o_custkey = c_custkey
        GROUP BY segment),
      f AS (SELECT segment, n_cust,
          CAST(n_cust AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_cust AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_cust AS HUGEINT) * syy - sy * sy AS den2
        FROM g)
      SELECT segment, n_cust,
        CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
          * sqrt(CAST(den2 AS DOUBLE))) AS first_rest_corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY segment"""),
    covers = Seq("A-ltv-predictiveness"))

  // ------------------------------------------------- engagement breadth
  // Participation BREADTH census: users by how many DISTINCT event
  // types they touch — q393 measured volume, this measures variety
  // (the "single-feature user" share that predicts churn). Each
  // breadth level also reports its share of total event volume.
  private val q421 = QueryDef(
    "q421_engagement_breadth",
    (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy("user_id")
        .agg(countDistinct(col("event_type")).as("breadth"),
          count(lit(1)).as("n_events"))
      val tot = perUser.agg(count(lit(1)).as("nu"),
        sum(col("n_events")).as("ne"))
      perUser.groupBy("breadth")
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("events"))
        .crossJoin(broadcast(tot))
        .select(col("breadth"), col("n_users"),
          (col("n_users").cast("double") / col("nu").cast("double"))
            .as("user_share"),
          (col("events").cast("double") / col("ne").cast("double"))
            .as("event_share"))
        .orderBy("breadth")
    },
    Some("""WITH pu AS (SELECT user_id,
          CAST(COUNT(DISTINCT event_type) AS BIGINT) AS breadth,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
          CAST(SUM(n_events) AS BIGINT) AS ne FROM pu)
      SELECT breadth, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(COUNT(*) AS DOUBLE) / CAST(MIN(nu) AS DOUBLE) AS user_share,
        CAST(SUM(n_events) AS DOUBLE) / CAST(MIN(ne) AS DOUBLE)
          AS event_share
      FROM pu, tot GROUP BY breadth ORDER BY breadth"""),
    covers = Seq("A-engagement-breadth"))

  // ------------------------------------------------- peak alignment
  // Do all market segments peak in the same calendar month? Per
  // segment: the peak revenue month (exact DECIMAL argmax, ties →
  // earliest month) and its share of the segment's year — if every
  // segment peaks together, capacity planning is one problem; if
  // they stagger, it's five.
  private val q422 = QueryDef(
    "q422_peak_alignment",
    (s, dir) => {
      val sm = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          month(to_date(col("o_orderdate"))).cast(LongType).as("m"))
        .agg(sum(cents).as("rev"))
      val w = Window.partitionBy("segment")
      val ranked = sm
        .withColumn("seg_rev", sum(col("rev")).over(w))
        .withColumn("rk", row_number().over(
          Window.partitionBy("segment").orderBy(desc("rev"), asc("m"))))
      ranked.filter(col("rk") === 1)
        .select(col("segment"), col("m").as("peak_month"),
          col("rev").as("peak_rev_cents"),
          (col("rev").cast("double") / col("seg_rev").cast("double"))
            .as("peak_share"))
        .orderBy("segment")
    },
    Some("""WITH sm AS (SELECT c_mktsegment AS segment,
          CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      r AS (SELECT segment, m, rev,
          CAST(SUM(rev) OVER (PARTITION BY segment) AS BIGINT) AS seg_rev,
          row_number() OVER (PARTITION BY segment
            ORDER BY rev DESC, m) AS rk
        FROM sm)
      SELECT segment, m AS peak_month, rev AS peak_rev_cents,
        CAST(rev AS DOUBLE) / CAST(seg_rev AS DOUBLE) AS peak_share
      FROM r WHERE rk = 1 ORDER BY segment"""),
    covers = Seq("A-peak-alignment"))

  // ------------------------------------------------- discount spend audit
  // Where does the discount budget actually go? Per discount band:
  // gross revenue, discount dollars given (exact at scale 4 —
  // price × rate never rounds), net, and the band's share of the
  // total discount budget. The money-flow companion to q413's unit
  // price curve.
  private val q423 = QueryDef(
    "q423_discount_spend",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_discount").cast(DecimalType(4, 2)) * 100)
          .cast(LongType).as("disc_pct"),
        (dec(col("l_extendedprice")) * 100)
          .cast(LongType).as("gross_c"),
        (dec(col("l_extendedprice"))
          * col("l_discount").cast(DecimalType(4, 2)) * 10000)
          .cast(LongType).as("disc_x10000"))
      val tot = li.agg(sum(col("disc_x10000")).as("td"))
      li.groupBy("disc_pct")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("gross_c")).as("gross_cents"),
          sum(col("disc_x10000")).as("disc_x10000"))
        .crossJoin(broadcast(tot))
        .select(col("disc_pct"), col("n_lines"), col("gross_cents"),
          col("disc_x10000"),
          (col("disc_x10000").cast("double") / col("td").cast("double"))
            .as("budget_share"),
          (col("disc_x10000").cast("double")
            / (col("gross_cents") * 100L).cast("double")).as("realized_rate"))
        .orderBy("disc_pct")
    },
    Some("""WITH li AS (SELECT
          CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS disc_pct,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS gross_c,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
            AS disc_x10000
        FROM lineitem),
      tot AS (SELECT CAST(SUM(disc_x10000) AS BIGINT) AS td FROM li)
      SELECT disc_pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(gross_c) AS BIGINT) AS gross_cents,
        CAST(SUM(disc_x10000) AS BIGINT) AS disc_x10000,
        CAST(SUM(disc_x10000) AS DOUBLE) / CAST(MIN(td) AS DOUBLE)
          AS budget_share,
        CAST(SUM(disc_x10000) AS DOUBLE)
          / CAST(SUM(gross_c) * 100 AS DOUBLE) AS realized_rate
      FROM li, tot GROUP BY disc_pct ORDER BY disc_pct"""),
    covers = Seq("A-discount-spend"))

  // ------------------------------------------------- band migration
  // Customer value-band Markov matrix: each customer's spend quintile
  // this year vs next year (unique (spend, custkey) ntile order), the
  // full 5×5 migration census behind "do mid-tier customers move up
  // or churn". q396 classified first-vs-last direction; this is the
  // complete transition structure.
  private val q429 = QueryDef(
    "q429_value_band_migration",
    (s, dir) => {
      val cy = t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          year(to_date(col("o_orderdate"))).cast(LongType).as("yr"))
        .agg(sum((dec(col("o_totalprice")) * 100)
          .cast(LongType)).as("spend"))
      val w = Window.partitionBy("yr").orderBy("spend", "o_custkey")
      val banded = cy.withColumn("band", ntile(5).over(w).cast(LongType))
      val nxt = banded.select(col("o_custkey"),
        (col("yr") - 1L).as("yr"), col("band").as("band_next"))
      banded.join(nxt, Seq("o_custkey", "yr"))
        .groupBy("band", "band_next")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("band", "band_next")
    },
    Some("""WITH cy AS (SELECT o_custkey,
          CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders GROUP BY 1, 2),
      banded AS (SELECT o_custkey, yr,
          CAST(ntile(5) OVER (PARTITION BY yr ORDER BY spend, o_custkey)
            AS BIGINT) AS band
        FROM cy)
      SELECT a.band, b.band AS band_next,
        CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM banded a JOIN banded b
        ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("A-band-migration"))

  // ------------------------------------------------- basket variety
  // Joint census of basket SIZE vs basket VARIETY: order line count ×
  // distinct brand count, with mean order value per cell — separates
  // "7 lines of one brand" from "7 brands" (q345 only measured
  // depth). Exact DECIMAL value sums; cells bounded by 7×7.
  private val q431 = QueryDef(
    "q431_basket_variety",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
      // pre-aggregate per (order, brand): the distinct-brand count
      // becomes a plain count and the Expand that duplicated every
      // fact row disappears — measured one decade up (same-JVM A/B,
      // sf1: 3.22 s vs 1.50 s; sf0.1 already a small win)
      val perOrder = li.groupBy("l_orderkey", "p_brand")
        .agg(count(lit(1)).as("nl"),
          sum((dec(col("l_extendedprice")) * 100)
            .cast(LongType)).as("v"))
        .groupBy("l_orderkey")
        .agg(sum(col("nl")).as("n_lines"),
          count(lit(1)).as("n_brands"),
          sum(col("v")).as("val_c"))
      perOrder.groupBy("n_lines", "n_brands")
        .agg(count(lit(1)).as("n_orders"), sum(col("val_c")).as("sv"))
        .select(col("n_lines"), col("n_brands"), col("n_orders"),
          (col("sv").cast("double") / col("n_orders").cast("double"))
            .as("mean_order_cents"))
        .orderBy("n_lines", "n_brands")
    },
    Some("""WITH po AS (SELECT l_orderkey,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS val_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_orderkey)
      SELECT n_lines, n_brands, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(val_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_order_cents
      FROM po GROUP BY 1, 2 ORDER BY n_lines, n_brands"""),
    covers = Seq("A-basket-variety"))

  // ------------------------------------------------- top-k turnover
  // Month-over-month churn of the revenue top-20 parts: Jaccard of
  // adjacent months' top sets (net revenue exact at scale 4, ties →
  // partkey). A stable catalog holds J near 1; merchandising shocks
  // show as dips. Top sets are 20 rows per month — the adjacency
  // join is trivially broadcastable at any scale.
  private val q444 = QueryDef(
    "q444_topk_turnover",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (year(to_date(col("l_shipdate"))) * 12 +
            month(to_date(col("l_shipdate")))).cast(LongType).as("mk"),
          ((dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType).as("rev4"))
      val pm = li.groupBy("mk", "l_partkey").agg(sum("rev4").as("rev"))
      // the engine's TopKPerKey operator instead of a row_number window:
      // bounded pre-shuffle heaps cap map output at k rows per (month,
      // partition) where the window would sort every (month, part) row
      // after the exchange — rank semantics identical (total order via
      // the partkey tiebreak)
      val top = graft.plans.TopKPerKey.perKey(
          pm, Seq("mk"), Seq(col("rev").desc, col("l_partkey")), 20)
        .select(col("mk"), col("l_partkey"))
      val sizes = top.groupBy("mk").agg(count(lit(1)).as("sz"))
      val nxt = top.select((col("mk") - 1L).as("mk"),
        col("l_partkey"))
      val common = top.join(nxt, Seq("mk", "l_partkey"))
        .groupBy("mk").agg(count(lit(1)).as("n_common"))
      sizes.as("s1")
        .join(sizes.as("s2").select((col("mk") - 1L).as("mk"),
          col("sz").as("sz_next")), Seq("mk"))
        .join(common, Seq("mk"), "left")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .select(col("mk"), col("sz"), col("sz_next"), col("n_common"),
          (col("n_common").cast("double") /
            (col("sz") + col("sz_next") - col("n_common")).cast("double"))
            .as("jaccard"))
        .orderBy("mk")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(year(CAST(l_shipdate AS DATE)) * 12 +
            month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mk,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT) AS rev4
        FROM lineitem),
      pm AS (SELECT mk, l_partkey, CAST(SUM(rev4) AS BIGINT) AS rev
        FROM li GROUP BY 1, 2),
      top AS (SELECT mk, l_partkey FROM (SELECT mk, l_partkey,
          row_number() OVER (PARTITION BY mk
            ORDER BY rev DESC, l_partkey) AS rn FROM pm)
        WHERE rn <= 20),
      sizes AS (SELECT mk, CAST(COUNT(*) AS BIGINT) AS sz
        FROM top GROUP BY mk),
      common AS (SELECT a.mk, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM top a JOIN top b
          ON b.l_partkey = a.l_partkey AND b.mk = a.mk + 1
        GROUP BY a.mk)
      SELECT s1.mk, s1.sz, s2.sz AS sz_next,
        COALESCE(c.n_common, 0) AS n_common,
        CAST(COALESCE(c.n_common, 0) AS DOUBLE) /
          CAST(s1.sz + s2.sz - COALESCE(c.n_common, 0) AS DOUBLE)
          AS jaccard
      FROM sizes s1 JOIN sizes s2 ON s2.mk = s1.mk + 1
      LEFT JOIN common c ON c.mk = s1.mk
      ORDER BY s1.mk"""),
    covers = Seq("REL-topk-turnover"))

  // Inventory formulas are sqrt/division trees over exact weekly-demand
  // moments; every census decision is an integer compare.
  /** Weekly shipped quantity per part (exact integer units). */
  private def weeklyDemand(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_partkey"),
        floor(datediff(to_date(col("l_shipdate")),
          lit("1995-01-01").cast(DateType)) / lit(7.0))
          .cast(LongType).as("wk"),
        dec(col("l_quantity")).cast(LongType)
          .as("qty"))
      .groupBy("l_partkey", "wk").agg(sum("qty").as("q"))

  private val weeklyDemandSql: String =
    """wd AS (SELECT l_partkey, wk, CAST(SUM(qty) AS BIGINT) AS q
      FROM (SELECT l_partkey,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
        FROM lineitem) GROUP BY 1, 2)"""

  // ------------------------------------------------- velocity burst
  // Abuse-rate detection: each user's maximum events inside any
  // sliding 60-second window (RANGE frame over epoch seconds — the
  // window shape rate limiters are built on), censused by burst
  // size, with the top-10 burstiest users listed. Exact counts; the
  // per-user partition is the natural shard at any scale.
  private val q482 = QueryDef(
    "q482_velocity_burst",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 1000000").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-59, 0)
      val burst = ev.withColumn("in_window", count(lit(1)).over(w))
        .groupBy("user_id").agg(max("in_window").as("max_burst"))
      val top = burst
        .orderBy(col("max_burst").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("max_burst"))
      top
    },
    Some("""WITH ev AS (SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      burst AS (SELECT user_id,
          CAST(MAX(iw) AS BIGINT) AS max_burst
        FROM (SELECT user_id,
            COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
              RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS iw
          FROM ev)
        GROUP BY user_id)
      SELECT user_id, max_burst FROM burst
      ORDER BY max_burst DESC, user_id LIMIT 10"""),
    covers = Seq("OPS-velocity-burst"))

  // ------------------------------------------------- reorder point
  // Continuous-review (s,Q) reorder point per top-20 part: ROP =
  // L·μ + z·√L·σ with lead time L = 2 weeks, z = 1.645 (95%
  // service), μ/σ from exact weekly-demand moments over the COMPLETE
  // week grid (zero weeks count — absent weeks are real zero
  // demand). σ derives from n·Σq²−S² in one sqrt; the rest is
  // literal arithmetic identical on both engines.
  private val q483 = QueryDef(
    "q483_reorder_point",
    (s, dir) => {
      val wd = weeklyDemand(s, dir).localCheckpoint()
      val span = wd.agg((max("wk") - min("wk") + 1L).as("tw"))
      val stats = wd.groupBy("l_partkey")
        .agg(sum("q").as("sq"), sum(col("q") * col("q")).as("sq2"),
          count(lit(1)).as("nz"))
        .crossJoin(broadcast(span))
      val top = stats.orderBy(col("sq").desc, col("l_partkey")).limit(20)
      top.select(col("l_partkey"), col("tw"), col("nz"), col("sq"),
          (col("sq").cast("double") / col("tw").cast("double")).as("mu"),
          (sqrt((col("tw") * col("sq2") - col("sq") * col("sq"))
            .cast("double")) / col("tw").cast("double")).as("sigma"))
        .withColumn("rop",
          lit(2.0) * col("mu") +
            lit(1.645) * sqrt(lit(2.0)) * col("sigma"))
        .select(col("l_partkey"), col("nz"), col("sq").as("total_qty"),
          col("mu"), col("sigma"), col("rop"))
        .orderBy(col("total_qty").desc, col("l_partkey"))
    },
    Some(s"""WITH $weeklyDemandSql,
      span AS (SELECT MAX(wk) - MIN(wk) + 1 AS tw FROM wd),
      stats AS (SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS sq,
          CAST(SUM(q * q) AS BIGINT) AS sq2,
          CAST(COUNT(*) AS BIGINT) AS nz
        FROM wd GROUP BY 1),
      top AS (SELECT s.*, sp.tw FROM stats s CROSS JOIN span sp
        ORDER BY s.sq DESC, s.l_partkey LIMIT 20)
      SELECT l_partkey, nz, sq AS total_qty,
        CAST(sq AS DOUBLE) / CAST(tw AS DOUBLE) AS mu,
        sqrt(CAST(tw * sq2 - sq * sq AS DOUBLE)) /
          CAST(tw AS DOUBLE) AS sigma,
        2.0 * (CAST(sq AS DOUBLE) / CAST(tw AS DOUBLE)) +
          1.645 * sqrt(2.0) * (sqrt(CAST(tw * sq2 - sq * sq AS DOUBLE))
            / CAST(tw AS DOUBLE)) AS rop
      FROM top ORDER BY total_qty DESC, l_partkey"""),
    covers = Seq("OPS-reorder-point"))

  // ------------------------------------------------- newsvendor
  // Newsvendor stocking per brand at critical ratio 0.3 (30% margin,
  // cost recoverable): Q* = the 30th-percentile week of brand demand
  // (exact percentile_disc pick over the zero-filled week grid via
  // complete-bucket accounting), audited with the realized cycle
  // service level P(demand ≤ Q*) and the volume fill rate
  // Σmin(d,Q*)/Σd — both exact integer ratios.
  private val q484 = QueryDef(
    "q484_newsvendor",
    (s, dir) => {
      val bw = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          col("p_brand")), Seq("l_partkey"))
        .select(col("p_brand"),
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          dec(col("l_quantity")).cast(LongType)
            .as("qty"))
        .groupBy("p_brand", "wk").agg(sum("qty").as("d"))
        .localCheckpoint()
      val qstar = bw.groupBy("p_brand")
        .agg(count(lit(1)).as("n_weeks"),
          expr("percentile_disc(0.3) WITHIN GROUP (ORDER BY d)")
            .cast(LongType).as("q_star"))
      bw.join(broadcast(qstar), Seq("p_brand"))
        .groupBy("p_brand", "n_weeks", "q_star")
        .agg(sum(when(col("d") <= col("q_star"), 1L).otherwise(0L))
          .as("n_served"),
          sum(least(col("d"), col("q_star"))).as("filled"),
          sum("d").as("demand"))
        .select(col("p_brand"), col("n_weeks"), col("q_star"),
          (col("n_served").cast("double") / col("n_weeks").cast("double"))
            .as("cycle_service"),
          (col("filled").cast("double") / col("demand").cast("double"))
            .as("fill_rate"))
        .orderBy("p_brand")
    },
    Some("""WITH bw AS (SELECT p.p_brand,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l.l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2))
            AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
      qstar AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_weeks,
          CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY d)
            AS BIGINT) AS q_star
        FROM bw GROUP BY 1)
      SELECT b.p_brand, q.n_weeks, q.q_star,
        CAST(COUNT(*) FILTER (WHERE b.d <= q.q_star) AS DOUBLE) /
          CAST(q.n_weeks AS DOUBLE) AS cycle_service,
        CAST(SUM(LEAST(b.d, q.q_star)) AS DOUBLE) /
          CAST(SUM(b.d) AS DOUBLE) AS fill_rate
      FROM bw b JOIN qstar q ON q.p_brand = b.p_brand
      GROUP BY b.p_brand, q.n_weeks, q.q_star ORDER BY b.p_brand"""),
    covers = Seq("OPS-newsvendor"))

  // ------------------------------------------------- EOQ
  // Economic order quantity per top-20 part: Q* = √(2DK/h) with
  // order cost K = $100 and holding cost h = 20% of unit retail per
  // year — annual demand D and prices exact, the formula one
  // division inside one sqrt. Orders/year and cycle-days ride
  // along; the lot-sizing table next to q483's safety stock.
  private val q485 = QueryDef(
    "q485_eoq_table",
    (s, dir) => {
      val dem = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          dec(col("l_quantity")).cast(LongType)
            .as("qty"),
          year(to_date(col("l_shipdate"))).as("yr"))
        .groupBy("l_partkey")
        .agg(sum("qty").as("total_qty"),
          countDistinct("yr").as("n_years"))
      val priced = dem
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          (dec(col("p_retailprice")) * 100)
            .cast(LongType).as("price_c")), Seq("l_partkey"))
      val top = priced.orderBy(col("total_qty").desc, col("l_partkey"))
        .limit(20)
      top.withColumn("d_annual",
          col("total_qty").cast("double") / col("n_years").cast("double"))
        .withColumn("h_cents",
          lit(0.2) * col("price_c").cast("double"))
        .withColumn("eoq",
          sqrt(lit(2.0) * col("d_annual") * lit(10000.0) /
            col("h_cents")))
        .select(col("l_partkey"), col("total_qty"), col("d_annual"),
          col("eoq"),
          (col("d_annual") / col("eoq")).as("orders_per_year"),
          (lit(365.0) / (col("d_annual") / col("eoq"))).as("cycle_days"))
        .orderBy(col("total_qty").desc, col("l_partkey"))
    },
    Some("""WITH dem AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS total_qty,
          CAST(COUNT(DISTINCT year(CAST(l_shipdate AS DATE)))
            AS BIGINT) AS n_years
        FROM lineitem GROUP BY 1),
      priced AS (SELECT d.l_partkey, d.total_qty, d.n_years,
          CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS price_c
        FROM dem d JOIN part p ON p.p_partkey = d.l_partkey),
      top AS (SELECT * FROM priced
        ORDER BY total_qty DESC, l_partkey LIMIT 20)
      SELECT l_partkey, total_qty,
        CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE) AS d_annual,
        sqrt(2.0 * (CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE))
          * 10000.0 / (0.2 * CAST(price_c AS DOUBLE))) AS eoq,
        (CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE)) /
          sqrt(2.0 * (CAST(total_qty AS DOUBLE) /
            CAST(n_years AS DOUBLE)) * 10000.0 /
            (0.2 * CAST(price_c AS DOUBLE))) AS orders_per_year,
        365.0 / ((CAST(total_qty AS DOUBLE) / CAST(n_years AS DOUBLE)) /
          sqrt(2.0 * (CAST(total_qty AS DOUBLE) /
            CAST(n_years AS DOUBLE)) * 10000.0 /
            (0.2 * CAST(price_c AS DOUBLE)))) AS cycle_days
      FROM top ORDER BY total_qty DESC, l_partkey"""),
    covers = Seq("OPS-eoq"))

  // ------------------------------------------------- pull-forward
  // Does a discount-heavy week borrow demand from the next? Pearson
  // correlation between weekly discount dollars (exact scale-4) and
  // NEXT week's shipped quantity, from exact DECIMAL(38,0)/HUGEINT
  // moment bilinears — plus the mean next-week quantity after
  // top-quartile vs bottom-quartile discount weeks (exact integer
  // ratios). Negative correlation = promotions pull sales forward.
  private val q486 = QueryDef(
    "q486_discount_pull_forward",
    (s, dir) => {
      val wk = t(s, dir, "lineitem")
        .select(
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          ((dec(col("l_extendedprice")) *
            col("l_discount").cast(DecimalType(4, 2))) * 10000)
            .cast(LongType).as("disc4"),
          dec(col("l_quantity")).cast(LongType)
            .as("qty"))
        .groupBy("wk")
        .agg(sum("disc4").as("disc"), sum("qty").as("q"))
      val w = Window.orderBy("wk")
      val pairs = wk
        .withColumn("wk_next", lead(col("wk"), 1).over(w))
        .withColumn("q_next", lead(col("q"), 1).over(w))
        .filter(col("wk_next") === col("wk") + 1)
        .select(col("wk"), col("disc"), col("q_next"))
        .localCheckpoint()
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val m = pairs.agg(count(lit(1)).as("n"),
        sum("disc").as("sx"), sum("q_next").as("sy"),
        sum(d38(col("disc")) * d38(col("disc"))).as("sxx"),
        sum(d38(col("q_next")) * d38(col("q_next"))).as("syy"),
        sum(d38(col("disc")) * d38(col("q_next"))).as("sxy"))
      val cut = pairs.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY disc)")
          .cast(LongType).as("p25"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY disc)")
          .cast(LongType).as("p75"))
      val bands = pairs.crossJoin(broadcast(cut))
        .agg(sum(when(col("disc") >= col("p75"), col("q_next"))).as("qh"),
          sum(when(col("disc") >= col("p75"), 1L).otherwise(0L)).as("nh"),
          sum(when(col("disc") <= col("p25"), col("q_next"))).as("ql"),
          sum(when(col("disc") <= col("p25"), 1L).otherwise(0L)).as("nl"))
      m.crossJoin(bands)
        .select(col("n"),
          ((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double") /
            (sqrt((d38(col("n")) * col("sxx") -
              d38(col("sx")) * d38(col("sx"))).cast("double")) *
             sqrt((d38(col("n")) * col("syy") -
              d38(col("sy")) * d38(col("sy"))).cast("double"))))
            .as("corr_disc_nextq"),
          (col("qh").cast("double") / col("nh").cast("double"))
            .as("mean_nextq_hi_disc"),
          (col("ql").cast("double") / col("nl").cast("double"))
            .as("mean_nextq_lo_disc"))
    },
    Some("""WITH wk AS (SELECT wk, CAST(SUM(disc4) AS BIGINT) AS disc,
          CAST(SUM(qty) AS BIGINT) AS q
        FROM (SELECT
            CAST(floor(date_diff('day', DATE '1995-01-01',
              CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
              AS disc4,
            CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
          FROM lineitem) GROUP BY wk),
      pairs AS (SELECT wk, disc, q_next FROM (SELECT wk, disc,
          lead(wk, 1) OVER (ORDER BY wk) AS wk_next,
          lead(q, 1) OVER (ORDER BY wk) AS q_next
        FROM wk) WHERE wk_next = wk + 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(disc) AS BIGINT) AS sx,
          CAST(SUM(q_next) AS BIGINT) AS sy,
          SUM(CAST(disc AS HUGEINT) * disc) AS sxx,
          SUM(CAST(q_next AS HUGEINT) * q_next) AS syy,
          SUM(CAST(disc AS HUGEINT) * q_next) AS sxy
        FROM pairs),
      cut AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY disc)
            AS BIGINT) AS p25,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY disc)
            AS BIGINT) AS p75
        FROM pairs),
      bands AS (SELECT
          CAST(SUM(CASE WHEN p.disc >= c.p75 THEN p.q_next END)
            AS BIGINT) AS qh,
          CAST(COUNT(*) FILTER (WHERE p.disc >= c.p75) AS BIGINT)
            AS nh,
          CAST(SUM(CASE WHEN p.disc <= c.p25 THEN p.q_next END)
            AS BIGINT) AS ql,
          CAST(COUNT(*) FILTER (WHERE p.disc <= c.p25) AS BIGINT)
            AS nl
        FROM pairs p CROSS JOIN cut c)
      SELECT m.n,
        CAST(CAST(m.n AS HUGEINT) * m.sxy -
            CAST(m.sx AS HUGEINT) * m.sy AS DOUBLE) /
          (sqrt(CAST(CAST(m.n AS HUGEINT) * m.sxx -
            CAST(m.sx AS HUGEINT) * m.sx AS DOUBLE)) *
           sqrt(CAST(CAST(m.n AS HUGEINT) * m.syy -
            CAST(m.sy AS HUGEINT) * m.sy AS DOUBLE)))
          AS corr_disc_nextq,
        CAST(b.qh AS DOUBLE) / CAST(b.nh AS DOUBLE)
          AS mean_nextq_hi_disc,
        CAST(b.ql AS DOUBLE) / CAST(b.nl AS DOUBLE)
          AS mean_nextq_lo_disc
      FROM m CROSS JOIN bands b"""),
    covers = Seq("OPS-pull-forward"))

  // ------------------------------------------------- consolidation
  // Shipping-consolidation opportunity: customers placing multiple
  // orders on the same day — the extra orders are mergeable
  // shipments. Multi-order days, extra-order count and share, and
  // the mean orders per multi-day, all exact.
  private val q501 = QueryDef(
    "q501_order_consolidation",
    (s, dir) => {
      val perDay = t(s, dir, "orders")
        .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("c"))
      perDay.agg(count(lit(1)).as("n_cust_days"),
          sum("c").as("n_orders"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_multi_days"),
          sum(when(col("c") >= 2, col("c") - 1L).otherwise(0L))
            .as("n_extra_orders"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("n_multi_orders"))
        .select(col("n_cust_days"), col("n_orders"), col("n_multi_days"),
          col("n_extra_orders"),
          (col("n_extra_orders").cast("double") /
            col("n_orders").cast("double")).as("consolidatable_share"),
          (col("n_multi_orders").cast("double") /
            col("n_multi_days").cast("double")).as("orders_per_multi_day"))
    },
    Some("""WITH per_day AS (SELECT o_custkey,
          CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cust_days,
        CAST(SUM(c) AS BIGINT) AS n_orders,
        CAST(COUNT(*) FILTER (WHERE c >= 2) AS BIGINT) AS n_multi_days,
        CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS BIGINT)
          AS n_extra_orders,
        CAST(SUM(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS DOUBLE) /
          CAST(SUM(c) AS DOUBLE) AS consolidatable_share,
        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE c >= 2) AS DOUBLE)
          AS orders_per_multi_day
      FROM per_day"""),
    covers = Seq("OPS-consolidation"))

  // ------------------------------------------------- revenue bridge
  // The CFO bridge from 1997 to 1998 revenue, over parts traded both
  // years: per part p̄ᵧ = rᵧ/qᵧ (identical division trees), price
  // effect (p̄₁−p̄₀)q₀, volume effect (q₁−q₀)p̄₀, mix (p̄₁−p̄₀)(q₁−q₀).
  // The cross-part totals fold in part-key order (aggregate HOF ≡
  // list_reduce), the exact Δ revenue and the float residual ride
  // along as the reconciliation check.
  private val q517 = QueryDef(
    "q517_revenue_bridge",
    (s, dir) => {
      def yr(y: Int): DataFrame =
        t(s, dir, "lineitem")
          .filter(year(to_date(col("l_shipdate"))) === y)
          .groupBy("l_partkey")
          .agg(sum(((dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType)).as(s"r$y"),
            sum(dec(col("l_quantity"))
              .cast(LongType)).as(s"q$y"))
      val j = yr(1997).join(yr(1998), Seq("l_partkey"))
        .withColumn("p0",
          col("r1997").cast("double") / col("q1997").cast("double"))
        .withColumn("p1",
          col("r1998").cast("double") / col("q1998").cast("double"))
        .withColumn("pe",
          (col("p1") - col("p0")) * col("q1997").cast("double"))
        .withColumn("ve",
          (col("q1998") - col("q1997")).cast("double") * col("p0"))
        .withColumn("me",
          (col("p1") - col("p0")) *
            (col("q1998") - col("q1997")).cast("double"))
      val folded = j.agg(count(lit(1)).as("n_parts"),
          sum(col("r1998") - col("r1997")).as("delta_rev4"),
          sort_array(collect_list(struct(col("l_partkey"), col("pe"),
            col("ve"), col("me")))).as("el"))
        .withColumn("price_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("pe")))
        .withColumn("volume_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("ve")))
        .withColumn("mix_eff",
          aggregate(col("el"), lit(0.0), (a, e) => a + e.getField("me")))
      folded.select(col("n_parts"), col("delta_rev4"),
        col("price_eff"), col("volume_eff"), col("mix_eff"),
        (col("delta_rev4").cast("double") -
          (col("price_eff") + col("volume_eff") + col("mix_eff")))
          .as("residual"))
    },
    Some("""WITH y97 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r0,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS q0
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
        GROUP BY 1),
      y98 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r1,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS q1
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1998
        GROUP BY 1),
      j AS (SELECT a.l_partkey, a.r0, a.q0, b.r1, b.q1,
          CAST(a.r0 AS DOUBLE) / CAST(a.q0 AS DOUBLE) AS p0,
          CAST(b.r1 AS DOUBLE) / CAST(b.q1 AS DOUBLE) AS p1
        FROM y97 a JOIN y98 b ON b.l_partkey = a.l_partkey),
      eff AS (SELECT l_partkey, r1 - r0 AS delta,
          (p1 - p0) * CAST(q0 AS DOUBLE) AS pe,
          CAST(q1 - q0 AS DOUBLE) * p0 AS ve,
          (p1 - p0) * CAST(q1 - q0 AS DOUBLE) AS me
        FROM j),
      folded AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
          CAST(SUM(delta) AS BIGINT) AS delta_rev4,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(pe ORDER BY l_partkey)), (a, b) -> a + b) AS price_eff,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(ve ORDER BY l_partkey)), (a, b) -> a + b)
            AS volume_eff,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(me ORDER BY l_partkey)), (a, b) -> a + b) AS mix_eff
        FROM eff)
      SELECT n_parts, delta_rev4, price_eff, volume_eff, mix_eff,
        CAST(delta_rev4 AS DOUBLE) -
          (price_eff + volume_eff + mix_eff) AS residual
      FROM folded"""),
    covers = Seq("FIN-revenue-bridge"))

  // ------------------------------------------------- hurdle model
  // Two-part (hurdle) decomposition of yearly customer value per
  // segment: participation P(any order in 1998) × conditional
  // intensity E[spend | active] = unconditional mean — all three
  // exact ratios, with the identity residual pinned at zero by
  // construction on both engines. The "is growth more buyers or
  // bigger buyers" ledger.
  private val q518 = QueryDef(
    "q518_hurdle_model",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val spend98 = t(s, dir, "orders")
        .filter(year(to_date(col("o_orderdate"))) === 1998)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum((dec(col("o_totalprice")) * 100)
          .cast(LongType)).as("y"))
      cust.join(spend98, Seq("c_custkey"), "left")
        .withColumn("y", coalesce(col("y"), lit(0L)))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("y") > 0L, 1L).otherwise(0L)).as("n_active"),
          sum("y").as("total_cents"))
        .select(col("segment"), col("n_cust"), col("n_active"),
          (col("n_active").cast("double") / col("n_cust").cast("double"))
            .as("participation"),
          (col("total_cents").cast("double") /
            col("n_active").cast("double")).as("intensity_cents"),
          (col("total_cents").cast("double") /
            col("n_cust").cast("double")).as("mean_value_cents"))
        .orderBy("segment")
    },
    Some("""WITH spend98 AS (SELECT o_custkey,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1998
        GROUP BY 1)
      SELECT c.c_mktsegment AS segment,
        CAST(COUNT(*) AS BIGINT) AS n_cust,
        CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS BIGINT)
          AS n_active,
        CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS participation,
        CAST(SUM(COALESCE(s.y, 0)) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE COALESCE(s.y, 0) > 0) AS DOUBLE)
          AS intensity_cents,
        CAST(SUM(COALESCE(s.y, 0)) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS mean_value_cents
      FROM customer c LEFT JOIN spend98 s ON s.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1"""),
    covers = Seq("FIN-hurdle-model"))

  // ------------------------------------------------- whitespace
  // Assortment whitespace between segment pairs: parts that segment
  // A buys and segment B never touches — count and A-side revenue at
  // stake per ordered pair. Aggregated (segment, part) postings keep
  // the join catalog-cardinality-sized at any SF; the cross-sell
  // target list in exact scale-4 revenue.
  private val q519 = QueryDef(
    "q519_assortment_whitespace",
    (s, dir) => {
      val sb = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment")), Seq("o_custkey"))
        .groupBy("segment", "l_partkey")
        .agg(sum(((dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) -
            col("l_discount").cast(DecimalType(4, 2)))) * 10000)
          .cast(LongType)).as("rev4"))
        .localCheckpoint()
      // whitespace pairs from ONE per-part fold instead of the
      // pairs-join + left-anti probe: each part carries its present
      // segments (≤ |segments| structs), the absent set is
      // array_except against the global segment list, and the
      // (present × absent) expansion happens per row with codegen'd
      // array functions — no 4×|sb| join, no second shuffle of sb
      val allSegs = sb.select("segment").distinct()
        .agg(sort_array(collect_list(col("segment"))).as("all_segs"))
      sb.groupBy("l_partkey")
        .agg(collect_list(struct(col("segment"), col("rev4"))).as("pres"))
        .crossJoin(broadcast(allSegs))
        .select(
          explode(col("pres")).as("p"),
          array_except(col("all_segs"),
            transform(col("pres"), x => x.getField("segment"))).as("absent"))
        .select(col("p.segment").as("seg_a"),
          explode(col("absent")).as("seg_b"), col("p.rev4").as("rev4"))
        .groupBy("seg_a", "seg_b")
        .agg(count(lit(1)).as("n_whitespace_parts"),
          sum("rev4").as("rev_at_stake4"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH sb AS MATERIALIZED (SELECT c.c_mktsegment AS segment,
          l.l_partkey,
          CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount
              AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT) AS rev4
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      segs AS (SELECT DISTINCT segment FROM sb),
      pairs AS (SELECT a.segment AS seg_a, b.segment AS seg_b
        FROM segs a CROSS JOIN segs b WHERE a.segment <> b.segment)
      SELECT p.seg_a, p.seg_b,
        CAST(COUNT(*) AS BIGINT) AS n_whitespace_parts,
        CAST(SUM(sa.rev4) AS BIGINT) AS rev_at_stake4
      FROM pairs p
      JOIN sb sa ON sa.segment = p.seg_a
      LEFT JOIN sb sbb ON sbb.segment = p.seg_b
        AND sbb.l_partkey = sa.l_partkey
      WHERE sbb.segment IS NULL
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("FIN-whitespace"))

  val all: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q14, q16, q19, q20, q37, q38, q39, q40, q41, q42, q43,
    q44, q49, q50, q51, q53, q56, q57, q58, q59, q60, q61, q62, q63, q64,
    q67, q68, q70, q72, q73, q74, q75, q76, q77, q78, q79, q80, q81, q82,
    q84, q85, q89, q92, q94, q96, q103, q104, q107, q108, q111, q114, q116,
    q117, q118, q119, q120, q122, q123, q125, q126, q128, q129, q130, q132,
    q133, q134, q135, q136, q137, q138, q140, q144, q145, q146, q149, q150,
    q153, q154, q155, q159, q164, q165, q167, q168, q169, q170, q171, q172,
    q178, q179, q180, q181, q182, q183, q185, q190, q191, q193, q199, q200,
    q201, q202, q212, q215, q216, q220, q221, q222, q223, q224, q225, q226,
    q227, q233, q234, q235, q236, q237, q238, q239, q240, q241, q242, q243,
    q247, q248, q249, q250, q251, q252, q253, q254, q255, q256, q257, q258,
    q259, q261, q276, q278, q279, q282, q285, q292, q293, q294, q295, q296,
    q299, q301, q303, q314, q315, q316, q318, q319, q320, q321, q322, q323,
    q324, q325, q326, q327, q328, q333, q336, q340, q341, q342, q343, q345,
    q349, q356, q357, q358, q360, q361, q362, q363, q371, q378, q383, q384,
    q385, q386, q390, q393, q396, q397, q405, q407, q413, q418, q419, q420,
    q421, q422, q423, q429, q431, q444, q482, q483, q484, q485, q486, q501,
    q517, q518, q519)
}
