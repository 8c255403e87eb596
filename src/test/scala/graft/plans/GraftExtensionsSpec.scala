package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[GraftExtensions]] as every engine session carries it: the shared
  * test session is built through [[graft.SessionDefaults]], like Bench,
  * Verify and Main. The overlap-join rewrite is in the session but off
  * until its key says otherwise, TopKPerKey plans through the injected
  * strategy, and nothing that uses the extensions installs anything on
  * the session while it runs.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def overlapJoin() = {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val a = Seq((1L, ts(0), ts(20)), (2L, ts(30), ts(40)))
      .toDF("a_id", "a_start", "a_end")
    val b = Seq((10L, ts(10), ts(15)), (20L, ts(50), ts(55)))
      .toDF("b_id", "b_start", "b_end")
    a.join(b, col("a_start") < col("b_end") && col("b_start") < col("a_end"))
  }

  private def nestedLoop(plan: String) =
    plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")

  test("a naive overlap join still plans a nested loop by default") {
    val j = overlapJoin()
    assert(nestedLoop(j.queryExecution.executedPlan.toString),
      s"overlap join rewritten with the key unset:\n${j.queryExecution.executedPlan}")
    assert(j.select("a_id", "b_id").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set(1L -> 10L))
  }

  test("session built with spark.sql.extensions rewrites overlap joins") {
    spark.conf.set(RangeJoinRewrite.enabledKey, "true")
    try {
      val j = overlapJoin()
      val plan = j.queryExecution.executedPlan.toString
      assert(!nestedLoop(plan), s"overlap join not rewritten:\n$plan")
      assert(j.select("a_id", "b_id").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet == Set(1L -> 10L))
    } finally spark.conf.unset(RangeJoinRewrite.enabledKey)
  }

  test("session built with spark.sql.extensions plans TopKPerKey") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 7))
      .toDF("k", "v")
    val top = TopKPerKey.perKey(df, Seq("k"), Seq(desc("v")), 2, rankName = "rk")
    assert(top.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "custom strategy did not plan TopKPerKey")
    assert(top.orderBy("k", "rk").collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq(("a", 3, 1L), ("a", 2, 2L), ("b", 9, 1L), ("b", 7, 2L)))
  }

  test("TopKPerKey, q244 and q531 install no rule or strategy on the session") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    TopKPerKey.perKey(Seq(("a", 1)).toDF("k", "v"), Seq("k"), Seq(desc("v")), 1)
      .collect()
    Seq("q244_matview_parity", "q531_overlap_via_extension").foreach { gate =>
      assert(graft.SparkEntry.queries(gate)(spark, dir).collect().nonEmpty, gate)
    }
    assert(spark.experimental.extraOptimizations.isEmpty,
      spark.experimental.extraOptimizations)
    assert(spark.experimental.extraStrategies.isEmpty,
      spark.experimental.extraStrategies)
    assert(spark.conf.getOption(RangeJoinRewrite.enabledKey).isEmpty)
  }
}
