package railbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The gate workload's inputs: the ten synthetic tables the gates read
  * (TPC-H-style star schema, `events`, `documents`, `embeddings`) with
  * the column names, types and value domains of the repo's test data,
  * generated from a fixed seed so gate outputs have fixed fingerprints.
  * Row counts scale with `sf` like the test data (lineitem 6 M × sf).
  */
object GateData {

  /** The stratified gate sample; the run's seed only permutes its order.
    * One to three gates per family, few enough that a cold pass, a warm
    * pass and two timed passes fit one run's time budget.
    */
  val sample: Seq[String] = Seq(
    // TPC-H
    "q233_tpch_q1", "q226_tpch_q21",
    // NS analytics and cleaner parity
    "q31_ns_rolling_trend", "q34_ns_peak_hour", "q46_cleaner_parity",
    // text and similarity
    "q24_simhash", "q29_cosine_topk",
    // windows
    "q07_rolling_window", "q339_lorenz_points",
    // store-backed
    "q244_matview_parity")

  private val vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "vector", "query", "agg", "table",
    "hash", "slow", "filter", "customer", "stream", "key", "group", "join",
    "index", "data", "row", "window", "merge", "plan", "cache", "shard")

  // uniform pseudo-random integer in [0, m) from (id, salt)
  private def u(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(m))

  private def fromList(xs: Seq[String], idx: Column): Column =
    element_at(typedLit(xs), (idx + 1).cast(IntegerType))

  private def money(id: Column, salt: Int, lo: Int, hi: Int): Column =
    (u(id, salt, (hi - lo) * 100L) / 100.0 + lo).cast(DoubleType)

  private def day(base: String, id: Column, salt: Int, days: Int): Column =
    to_timestamp(date_add(lit(base).cast(DateType), u(id, salt, days.toLong).cast(IntegerType)))

  /** Writes every table under `dir`; returns the row count of each. */
  def generate(spark: SparkSession, dir: String, sf: Double): Map[String, Long] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = n(20000)
    val parts = spark.sparkContext.defaultParallelism
    def ids(count: Long) = spark.range(0L, count, 1L, parts).toDF("id")
    val id = col("id")

    val tables: Seq[(String, Long, DataFrame)] = Seq(
      ("region", 5L, spark.createDataFrame(Seq(
          0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST"))
        .toDF("r_regionkey", "r_name")),
      ("nation", 25L, spark.range(25).select(
        id.cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast(IntegerType).as("n_regionkey"))),
      ("customer", nCust, ids(nCust).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(id, 1, 25).cast(IntegerType).as("c_nationkey"),
        money(id, 2, -999, 9999).as("c_acctbal"),
        fromList(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          u(id, 3, 5)).as("c_mktsegment"))),
      ("supplier", nSupp, ids(nSupp).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        u(id, 4, 25).cast(IntegerType).as("s_nationkey"),
        money(id, 5, -999, 9999).as("s_acctbal"))),
      ("part", nPart, ids(nPart).select(
        id.as("p_partkey"),
        concat_ws(" ",
          fromList(Seq("large", "hot", "blue", "small", "red", "green"), u(id, 6, 6)),
          fromList(Seq("ring", "bolt", "nut", "gear", "pipe"), u(id, 7, 5))).as("p_name"),
        concat(lit("Brand#"), u(id, 8, 25) + 1).as("p_brand"),
        fromList(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"),
          u(id, 9, 6)).as("p_type"),
        (u(id, 10, 50) + 1).cast(IntegerType).as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))),
      ("orders", nOrd, ids(nOrd).select(
        id.as("o_orderkey"),
        u(id, 11, nCust).as("o_custkey"),
        fromList(Seq("O", "F", "P"), u(id, 12, 3)).as("o_orderstatus"),
        money(id, 13, 900, 450000).as("o_totalprice"),
        day("1995-01-01", id, 14, 2404).as("o_orderdate"),
        fromList(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          u(id, 15, 5)).as("o_orderpriority"))),
      ("lineitem", nLine, ids(nLine).select(
        u(id, 16, nOrd).as("l_orderkey"),
        u(id, 17, nPart).as("l_partkey"),
        u(id, 18, nSupp).as("l_suppkey"),
        (u(id, 19, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (u(id, 20, 50) + 1).cast(DoubleType).as("l_quantity"),
        money(id, 21, 900, 100000).as("l_extendedprice"),
        (u(id, 22, 11) / 100.0).as("l_discount"),
        (u(id, 23, 9) / 100.0).as("l_tax"),
        fromList(Seq("A", "N", "R"), u(id, 24, 3)).as("l_returnflag"),
        fromList(Seq("O", "F"), u(id, 25, 2)).as("l_linestatus"),
        day("1995-01-02", id, 26, 2465).as("l_shipdate"))),
      ("events", nEv, ids(nEv).select(
        id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          (id * lit(2592000000000L / nEv)) + u(id, 27, 2592000000000L / nEv)).as("ts"),
        u(id, 28, 1500).as("user_id"),
        fromList(Seq("view", "click", "purchase", "signup", "error"), u(id, 29, 5))
          .as("event_type"),
        money(id, 30, 0, 560).as("value"),
        concat(lit("{\"k\": "), u(id, 31, 100), lit("}")).as("props"))),
      ("documents", nDoc, ids(nDoc)
        .withColumn("text", concat_ws(" ", transform(
          sequence(lit(1), (u(id, 32, 90) + 8).cast(IntegerType)),
          i => fromList(vocab, pmod(xxhash64(id, i), lit(vocab.size.toLong))))))
        .select(
          id.as("doc_id"), col("text"),
          fromList(Seq("en", "en", "en", "de", "fr", "es", "zh"), u(id, 33, 7)).as("lang"),
          concat(lit("src"), u(id, 34, 20)).as("source"),
          length(col("text")).cast(LongType).as("n_chars"))),
      ("embeddings", nEmb, ids(nEmb)
        .withColumn("label", u(id, 35, 10).cast(IntegerType))
        .select(
          id.as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (sin(col("label") * 7 + j) + (pmod(xxhash64(id, j), lit(2001L)) - 1000) / 4000.0)
              .cast(FloatType)).as("embedding"),
          col("label"))))

    tables.map { case (name, rows, df) =>
      // two files per table keep scans parallel without many tiny files
      df.coalesce(math.min(parts, 2)).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$name.parquet")
      name -> rows
    }.toMap
  }

  /** Order-independent fingerprint of a frame: row count and the
    * decimal sum of a per-row hash. Floating values are hashed at ten
    * significant digits so summation order cannot change them.
    */
  def fingerprint(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def norm(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case ArrayType(et, _) =>
        concat(lit("["), array_join(transform(c, x => norm(x, et)), ",", "~"), lit("]"))
      case s: StructType =>
        concat_ws("|", s.fields.toSeq.map(f => coalesce(norm(c.getField(f.name), f.dataType), lit("~"))): _*)
      case _: MapType => to_json(c)
      case _ => c.cast(StringType)
    }
    val cols = named.schema.fields.toSeq.map(f => coalesce(norm(col(f.name), f.dataType), lit("~")))
    // bounded-collect: one global aggregate row
    val r = named.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  /** Unpartitioned window operators in a physical plan: each one sorts
    * its whole input in a single task.
    */
  def singlePartitionWindows(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => singlePartitionWindows(a.executedPlan)
    case s: QueryStageExec => singlePartitionWindows(s.plan)
    case p =>
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      here + p.children.map(singlePartitionWindows).sum +
        p.subqueries.map(singlePartitionWindows).sum
  }
}
