package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Round-25 gate additions (q242+): the window-frame and sort-order
  * semantic tail — GROUPS frames (which Spark lacks natively) and
  * explicit NULLS FIRST/LAST ordering (where the engines' DEFAULTS
  * disagree: Spark sorts nulls first ascending, DuckDB last).
  *
  * Determinism rules as everywhere (QueryDef scaladoc).
  */
object Round25Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

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

  // ------------------------------------------------- MV rewrite parity
  // The materialized-view rewrite under the oracle: an AggTable is
  // folded over three arrival batches of lineitem, the base path is
  // registered with [[graft.plans.MatViewRewrite]], and the gate runs
  // a plain `base.groupBy(flag, status).agg(...)` — which the rule
  // answers from the O(groups) state. The oracle aggregates the base
  // table directly in DuckDB, so hash-equality proves the rewritten
  // answer is bit-identical to a fresh corpus scan (the rule's
  // contract). Executed eagerly so the rule and registry can be
  // uninstalled before any other gate query plans — the rewrite must
  // never leak into a neighbor's plan.
  private val q244 = QueryDef(
    "q244_matview_parity",
    (s, dir) => {
      import graft.plans.MatViewRewrite
      val basePath = s"$dir/lineitem.parquet"
      val root = java.nio.file.Files.createTempDirectory("graft_mv").toString
      val spec = graft.store.AggSpec(
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
      val aggTable = new graft.store.AggTable(
        new graft.store.TableStore(s, root), "li_stats", spec)
      val base = t(s, dir, "lineitem")
      (0 to 2).foreach(b =>
        aggTable.accumulate(s"b$b", base.filter(col("l_orderkey") % 3 === b)))
      MatViewRewrite.register(basePath, aggTable)
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ MatViewRewrite
      try {
        val q = base.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(dec(col("l_quantity"))).as("sum_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
        // the gate must actually exercise the rewrite — fail loudly if
        // the base scan survived optimization
        val scans = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten
        require(scans.exists(_.contains("li_stats/state")),
          s"matview rewrite did not fire; scans=$scans")
        // bounded-collect: grouped q1 result — O(flag x status) rows
        val rows = q.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), q.schema)
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            col("sum_qty").cast("double").as("sum_qty"),
            col("min_qty"), col("max_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      } finally {
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations.filterNot(_ == MatViewRewrite)
        MatViewRewrite.clear()
      }
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        MIN(l_quantity) AS min_qty,
        MAX(l_quantity) AS max_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    covers = Seq("MV-rewrite"))

  val all: Seq[QueryDef] =
    Seq(q242, q243, q244)
}
