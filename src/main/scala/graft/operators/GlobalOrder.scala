package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global-order window functions WITHOUT the single-partition
  * WindowExec.
  *
  * `Window.orderBy(...)` with no partition key moves every row to one
  * task — the scale-killer the round-11 review flagged across the
  * gate suite's row-scale sites (global ranks over orders, customers,
  * parts, documents, events). This operator computes the SAME values
  * two-phase:
  *
  *   1. bucket every row by the VALUE of the leading sort key —
  *      `floor((v - min) / width)` against the frame's own min/max
  *      (one broadcast O(1) aggregate, no driver collect, no sampled
  *      RangePartitioner) into ~4× `spark.sql.shuffle.partitions`
  *      buckets, so the bucket count scales with the session's
  *      parallelism, not a constant;
  *   2. run the requested window PARTITIONED BY bucket (parallel,
  *      warning-free) — correct because bucket order == leading-key
  *      order and, crucially, EQUAL leading keys always land in the
  *      SAME bucket (the bucket is a pure function of the value), so
  *      tie groups never straddle a boundary and rank/ntile/cume
  *      semantics survive exactly;
  *   3. attach per-bucket prefix aggregates (counts for ranks, sums
  *      for running sums, maxes for running maxes) — a result-sized
  *      frame (O(buckets)) whose own global window is the ONE
  *      legitimately tiny unpartitioned window left — via broadcast
  *      join.
  *
  * Values are BIT-IDENTICAL to the single-partition form whenever the
  * full sort spec is a total order (every call site's contract here;
  * with duplicate full sort keys row_number is nondeterministic in
  * the single-partition form too). Pinned against the built-ins on
  * randomized data in GlobalOrderSpec, including tie handling and
  * Spark's exact NTILE bucket-size semantics.
  *
  * Skew caveat: one hot leading-key VALUE forms one bucket (ties must
  * co-locate for rank semantics — same bound as any rank definition);
  * the 4× bucket multiple only spreads DISTINCT values.
  */
object GlobalOrder {

  /** Bucket count: scale with the session fan-out. */
  private def nBuckets(df: DataFrame): Int =
    4 * df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** df + `__bkt` (bucket id ascending in GLOBAL sort order of the
    * leading key) + `__nb` (bucket count). Null leading keys get the
    * first bucket ascending / last descending, matching Spark's
    * default null ordering (asc nulls first, desc nulls last).
    */
  private def bucketed(
      df: DataFrame, leadKey: Column, leadDesc: Boolean): DataFrame = {
    // Materialize the input ONCE: the two-phase form reads it three
    // times (bounds, per-bucket offsets, the bucketed window itself),
    // and the input is typically an expensive upstream subtree (a
    // join or explode) that would otherwise re-run per read. Eager
    // localCheckpoint, ContextCleaner-collectable — the established
    // pattern for multi-consumer forks in this tree.
    val in = df.localCheckpoint()
    val nB = nBuckets(df)
    val bounds = in.agg(
      min(leadKey.cast("double")).as("__lo"),
      max(leadKey.cast("double")).as("__hi"))
    val v = leadKey.cast("double")
    val span = col("__hi") - col("__lo")
    val raw = when(col("__lo").isNull || span <= lit(0.0), lit(0L))
      .otherwise(least(
        floor((v - col("__lo")) / span * nB).cast(LongType), lit(nB - 1L)))
    val asc = when(v.isNull, lit(-1L)).otherwise(raw)
    val bkt = if (leadDesc) lit(nB.toLong) - asc else asc
    in.crossJoin(broadcast(bounds))
      .withColumn("__bkt", bkt)
      .drop("__lo", "__hi")
  }

  /** Global `row_number()` over `order` (whose leading key is
    * `leadKey`, descending iff `leadDesc`), as column `name`.
    * `order` MUST be a total order (unique tiebreak) — the same
    * contract the single-partition form needs for determinism.
    */
  def rowNumber(
      df: DataFrame, leadKey: Column, leadDesc: Boolean,
      order: Seq[Column], name: String): DataFrame =
    rowNumberWithTotal(df, leadKey, leadDesc, order, name)._1

  /** [[rowNumber]] plus the 1-row total-count frame derived from the
    * same per-bucket counts (no extra pass over the input).
    */
  private def rowNumberWithTotal(
      df: DataFrame, leadKey: Column, leadDesc: Boolean,
      order: Seq[Column], name: String): (DataFrame, DataFrame) = {
    val b = bucketed(df, leadKey, leadDesc)
    val counts = b.groupBy("__bkt").agg(count(lit(1)).as("__c"))
    val per = counts
      .withColumn("__off", coalesce(
        sum("__c").over(Window.orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bkt"), col("__off"))
    val out = b.withColumn("__lrn",
        row_number().over(Window.partitionBy("__bkt").orderBy(order: _*)))
      .join(broadcast(per), "__bkt")
      .withColumn(name, (col("__off") + col("__lrn")).cast("int"))
      .drop("__bkt", "__lrn", "__off")
    (out, counts.agg(sum("__c").as("__n")))
  }

  /** Global `ntile(k)` over the same spec, from the global row number
    * and total count. Spark's NTILE puts the n mod k one-row-larger
    * buckets FIRST: with base = n DIV k and rem = n MOD k, rows
    * 1..rem·(base+1) fall in buckets of size base+1 and the rest in
    * buckets of size base (pinned against the built-in in
    * GlobalOrderSpec, including n < k where base = 0).
    */
  def ntile(
      df: DataFrame, k: Int, leadKey: Column, leadDesc: Boolean,
      order: Seq[Column], name: String): DataFrame = {
    val (rn, tot) = rowNumberWithTotal(df, leadKey, leadDesc, order, "__grn")
    // all divisions INTEGRAL (Column./ is double division)
    val bucket = expr(
      s"""CASE WHEN __grn <= (__n % $k) * (__n DIV $k + 1L)
         |THEN (CAST(__grn AS BIGINT) - 1L) DIV (__n DIV $k + 1L) + 1L
         |ELSE (__n % $k) +
         |  (CAST(__grn AS BIGINT) - 1L - (__n % $k) * (__n DIV $k + 1L))
         |    DIV greatest(__n DIV $k, 1L) + 1L
         |END""".stripMargin)
    rn.crossJoin(broadcast(tot))
      .withColumn(name, bucket.cast("int"))
      .drop("__grn", "__n")
  }

  /** Global running SUM of `value` over `order`
    * (UNBOUNDED PRECEDING .. CURRENT ROW). Sum type follows Spark's
    * `sum` widening of the input column.
    */
  def runningSum(
      df: DataFrame, leadKey: Column, leadDesc: Boolean,
      order: Seq[Column], value: Column, name: String): DataFrame = {
    val b = bucketed(df, leadKey, leadDesc).withColumn("__v", value)
    val per = b.groupBy("__bkt").agg(sum("__v").as("__s"))
      .withColumn("__soff",
        sum("__s").over(Window.orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__bkt"), col("__soff"))
    b.withColumn("__lsum",
        sum("__v").over(Window.partitionBy("__bkt").orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(per), "__bkt")
      // either part may be null (no earlier bucket, or a prefix of
      // null values): like the built-in frame, a sum ignores null
      // parts and is null only when every part is
      .withColumn(name, coalesce(
        col("__soff") + col("__lsum"), col("__lsum"), col("__soff")))
      .drop("__bkt", "__v", "__lsum", "__soff")
  }

  /** Global running MAX of `value` over `order`, EXCLUSIVE of the
    * current row (UNBOUNDED PRECEDING .. -1) — null for the global
    * first row, exactly like the built-in frame.
    */
  def prefixMax(
      df: DataFrame, leadKey: Column, leadDesc: Boolean,
      order: Seq[Column], value: Column, name: String): DataFrame = {
    val b = bucketed(df, leadKey, leadDesc).withColumn("__v", value)
    val per = b.groupBy("__bkt").agg(max("__v").as("__m"))
      .withColumn("__moff",
        max("__m").over(Window.orderBy("__bkt")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__bkt"), col("__moff"))
    b.withColumn("__lmax",
        max("__v").over(Window.partitionBy("__bkt").orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .join(broadcast(per), "__bkt")
      .withColumn(name, greatest(
        coalesce(col("__lmax"), col("__moff")),
        coalesce(col("__moff"), col("__lmax"))))
      .drop("__bkt", "__v", "__lmax", "__moff")
  }
}
