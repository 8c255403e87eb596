package graft.queries

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.functions.{col, lit, split}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ContextMemo

/** One verifiable operator query.
  *
  * @param name   stable key — must match between `SparkEntry.queries`
  *               and `SparkEntry.oracleSql`
  * @param run    DataFrame-API implementation over the testdata dir
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables (table names = file stems); None for
  *               ops not expressible in SQL (driver falls back to a
  *               rows-only check)
  * @param covers SURVEY.md §2 operator ids exercised by this query
  * @param dynOracle oracle SQL generated at Verify-dump time from the
  *               (spark, testdata dir) pair — for gates whose oracle
  *               must inline data-derived model literals (the ANN
  *               gates' trained centroids/codebooks, see
  *               [[AnnModelOracle]]). Mutually exclusive with
  *               `oracle`; Verify merges these into oracle_sql.json
  *               after the query dump.
  * @param confs  session confs the gate runs under; `SparkEntry.queries`
  *               runs a gate that declares any in [[QueryDef.session]],
  *               never on the caller's session
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    covers: Seq[String] = Nil,
    dynOracle: Option[(SparkSession, String) => String] = None,
    confs: Seq[(String, String)] = Nil)

/** The helpers every gate family shares. Determinism rules they
  * implement, for every gate:
  *  - double outputs must derive from exact DECIMAL(18,2) sums (the
  *    source doubles are 2-decimal) so partial aggregation order
  *    cannot change the result;
  *  - no `round()` on division results (Spark rounds the shortest
  *    string repr, DuckDB the binary value — they disagree on
  *    half-way points); identical IEEE expression trees are already
  *    bitwise deterministic;
  *  - no `ln()`/`pow()` or other transcendentals: their last-ulp
  *    behaviour differs between Spark and DuckDB, while +,−,×,÷ and
  *    sqrt are correctly rounded on both;
  *  - a decision (threshold, class boundary, argmax) is an exact
  *    integer/DECIMAL or cross-multiplied compare, never a compare of
  *    computed floats;
  *  - every query ends in a total ORDER BY;
  *  - counts cast to BIGINT on the DuckDB side (its SUM(int) is
  *    HUGEINT), ranks cast to BIGINT on the Spark side.
  */
object QueryDef {

  /** Exact 2-decimal view of a money/quantity double. The source data
    * is generated at 2 decimals, so this cast is lossless; decimal
    * sums are associative → safe under Spark partial aggregation AND
    * identical to DuckDB's sequential sum.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact integer view for products of fixed-point lattice values
    * that exceed 2⁶³ (DuckDB's HUGEINT side).
    */
  def dec38(c: Column): Column = c.cast(DecimalType(38, 0))

  /** `o_totalprice` in integer cents. */
  def cents: Column = (dec(col("o_totalprice")) * 100).cast(LongType)

  /** Line revenue price·(1−disc) as exact DECIMAL(18,4). */
  def rev: Column =
    (dec(col("l_extendedprice")) * (dec(lit(1)) - dec(col("l_discount"))))
      .cast(DecimalType(18, 4))

  /** Fixed-point scale 2²⁰: float inputs are quantized as
    * `floor(x·Q)` longs so every sum is exact integer arithmetic
    * independent of partial-aggregation order; doubles appear only as
    * a final cast/division/sqrt over those exact integers, where Spark
    * and DuckDB evaluate identical IEEE trees.
    */
  val Q = 1048576L

  /** 2⁴⁰ = Q², the de-quantization of a product of two lattice values. */
  val Q2 = 1099511627776d

  /** DECIMAL(·,4) → DOUBLE the way DuckDB does it: the unscaled
    * integer converts first (one rounding — these squared-price sums
    * exceed 2^53), then divides by 10⁴. Spark's native cast rounds
    * the rational once (correctly), which differs by 1 ulp on some
    * sums; the oracle can't be changed, so the engine reproduces the
    * two-step here. Scale-2 money sums stay under 2^53 unscaled and
    * are immune.
    */
  def d4ToDouble(c: Column): Column =
    (c * lit(10000L)).cast(DecimalType(38, 0)).cast("double") / lit(10000.0d)

  /** Scale-6 twin of [[d4ToDouble]] (sum of price·(1−disc)·(1+tax)). */
  def d6ToDouble(c: Column): Column =
    (c * lit(1000000L)).cast(DecimalType(38, 0)).cast("double") / lit(1000000.0d)

  /** documents/embeddings ship as one small parquet file → one input
    * partition, which would serialize the md5/shingle-heavy compute on
    * a single core. Spread rows across the cluster first; results are
    * partitioning-independent (everything aggregates + totally
    * orders). At real scale the scan has natural parallelism and this
    * becomes a no-op-sized shuffle.
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Word tokens (documents.text is single-space separated). */
  def toksOf(c: Column): Column = split(c, " ")

  private val sessions =
    new ContextMemo[(SparkSession, Map[String, String], Seq[(String, String)]), SparkSession]

  /** The session a gate declaring `confs` runs in: a clone of `s`
    * with them set once, when it is built, so no gate sees another's
    * confs and nothing is restored. With no `confs`, a plain clone for
    * a gate that registers state of its own (q244). One per (session,
    * its confs, `confs`), not per execution: a session that runs a
    * stream, or whose parent has query listeners, adds a listener bus
    * to the context for as long as it lives.
    */
  private[graft] def session(s: SparkSession, confs: Seq[(String, String)]): SparkSession =
    sessions(s, (s, s.conf.getAll, confs)) {
      val gate = GraftPlanBridge.cloneSession(s)
      confs.foreach { case (k, v) => gate.conf.set(k, v) }
      gate
    }
}
