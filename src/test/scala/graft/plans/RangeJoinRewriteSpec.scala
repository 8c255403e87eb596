package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The optimizer rule must (a) turn the nested-loop overlap join into
  * an equi-join physically, (b) keep results pair-identical, (c) leave
  * joins that already have equi keys untouched. The rule is in every
  * engine session; these cases switch it on by its key.
  */
class RangeJoinRewriteSpec extends SparkSpec {

  private def withRule[A](f: => A): A = {
    spark.conf.set(RangeJoinRewrite.enabledKey, "true")
    try f finally spark.conf.unset(RangeJoinRewrite.enabledKey)
  }

  private def intervals: DataFrame = {
    import spark.implicits._
    val base = 1700000000000L
    (1 to 80).map { i =>
      val start = base + (i * 7919L % 131) * 60000L
      val len = (i * 104729L % 45 + 1) * 60000L
      (i.toLong, new Timestamp(start), new Timestamp(start + len))
    }.toDF("id", "start_ts", "end_ts")
  }

  private def overlapJoin(df: DataFrame): DataFrame = {
    val a = df.as("a")
    val b = df.as("b")
    a.join(b,
        col("a.id") < col("b.id") &&
        col("a.start_ts") < col("b.end_ts") &&
        col("a.end_ts") > col("b.start_ts"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
  }

  test("rewrites the theta join to a physical equi-join with identical pairs") {
    val df = intervals
    val baseline = overlapJoin(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(baseline.nonEmpty)

    withRule {
      val rewritten = overlapJoin(df)
      val physical = rewritten.queryExecution.executedPlan.toString
      assert(!physical.contains("BroadcastNestedLoopJoin") &&
        !physical.contains("CartesianProduct"), physical)
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline)
    }
  }

  test("joins that already have an equi key are left untouched") {
    import spark.implicits._
    val df = intervals.withColumn("k", col("id") % 5)
    withRule {
      val j = df.as("a").join(df.as("b"),
        col("a.k") === col("b.k") && col("a.start_ts") < col("b.end_ts") &&
          col("a.end_ts") > col("b.start_ts"))
      // no Generate injected → no __graft_bin attribute anywhere
      assert(!j.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
      j.count() // still runs
    }
  }

  test("by default an interval exceeding maxBins fails loudly, never silently drops") {
    import spark.implicits._
    val base = 1700000000000L
    val binMs = RangeJoinRewrite.BinMinutes * 60000L
    // row 1 spans one bin more than the fan-out bound; the short rows
    // start inside it
    val df = (Seq((1L, base, base + (RangeJoinRewrite.MaxBins + 1) * binMs)) ++
      (2 to 4).map(i => (i.toLong, base + i * 60000L, base + i * 60000L + 120000L)))
      .map { case (id, s, e) => (id, new Timestamp(s), new Timestamp(e)) }
      .toDF("id", "start_ts", "end_ts")
    withRule {
      val err = intercept[Exception](overlapJoin(df).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(err).exists(_.contains("graft range-join rewrite")), err)
    }
  }

  test("respects the enabled flag") {
    def rewritten = overlapJoin(intervals).queryExecution.optimizedPlan
      .toString.contains("__graft_bin")
    assert(!rewritten, "the rewrite is off while the key is unset")
    spark.conf.set(RangeJoinRewrite.enabledKey, "false")
    try assert(!rewritten) finally spark.conf.unset(RangeJoinRewrite.enabledKey)
  }
}
