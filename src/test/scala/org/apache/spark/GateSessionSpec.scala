package org.apache.spark

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{SparkEntry, SparkSpec}
import graft.analytics.NsQueries
import graft.etl.Clock

/** The gates that need session state of their own (declared confs,
  * or q244's view registration) leave the caller's session as it was,
  * return the plan they actually run, and do not grow the context's
  * listener bus per execution. In package `org.apache.spark` to read
  * that bus.
  */
class GateSessionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val streamGates = Seq(
    "q520_stream_windowed_fold", "q521_stream_sessionize_fold", "q522_stream_interval_join",
    "q523_stream_quota_admission", "q524_stream_dedup", "q525_stream_enrich",
    "q526_stream_outer_interval_join", "q527_stream_late_drop",
    "q528_stream_available_now_clean")

  private def gate(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def binGenerates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }.size

  test("no gate changes its caller's confs") {
    (Seq("q244_matview_parity", "q472_hits", "q531_overlap_via_extension") ++ streamGates)
      .foreach { name =>
        val before = spark.conf.getAll
        val df = gate(name)
        df.collect()
        assert(spark.conf.getAll == before, name)
      }
  }

  test("q531 returns the rewritten query; the caller's overlap join stays a nested loop") {
    val q = gate("q531_overlap_via_extension")
    assert(binGenerates(q) == 2, q.queryExecution.optimizedPlan)
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoop") && !phys.contains("CartesianProduct"), phys)
    assert(q.collect().nonEmpty)

    import spark.implicits._
    def ts(s: String) = Timestamp.from(Instant.parse(s))
    val d = Seq(
      ("a", "disruption", ts("2024-01-30T08:00:00Z"), ts("2024-01-30T10:00:00Z")),
      ("b", "maintenance", ts("2024-01-30T09:00:00Z"), ts("2024-01-30T11:00:00Z")))
      .toDF("disruption_id", "type", "start_time", "end_time")
    val overlap = NsQueries.overlapping(d, Clock(Instant.parse("2024-01-31T00:00:00Z")))
    assert(binGenerates(overlap) == 0, overlap.queryExecution.optimizedPlan)
    assert(overlap.collect().length == 1)
  }

  test("q244 returns the rewritten query; the caller's aggregate still scans the base") {
    val q = gate("q244_matview_parity")
    assert(scannedPaths(q).exists(_.contains("li_stats/state")), scannedPaths(q))
    val plain = graft.Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus").count()
    assert(scannedPaths(plain).exists(_.endsWith("lineitem.parquet")), scannedPaths(plain))
    assert(q.collect().length == plain.collect().length)
  }

  test("q472 runs without AQE, its final evaluation too") {
    val q = gate("q472_hits")
    assert(!q.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      q.queryExecution.executedPlan)
    assert(q.collect().length == 10)
  }

  test("repeated executions add no listener to the context's bus") {
    // the bus's count once the ContextCleaner has removed the buses of
    // sessions nothing references any more; it may still reap one made
    // before the first read, so the check is that the count does not
    // grow
    def settled(): Int = {
      var counts = List(spark.sparkContext.listenerBus.listeners.size)
      while (counts.size < 40 && !(counts.size >= 4 && counts.take(4).distinct.size == 1)) {
        System.gc()
        Thread.sleep(250)
        counts = spark.sparkContext.listenerBus.listeners.size :: counts
      }
      counts.head
    }
    // q244's caller holds a query listener (its store commits observe
    // row counts), which every clone of it copies: a clone per
    // execution would leave a bus per run. q525 runs from a fresh
    // session: Spark clones the session for each run of a stream, and
    // a clone of a session with query listeners, or one that runs a
    // stateful operator, adds a bus per run whatever session the gate
    // runs in; q525's stream is stateless
    Seq("q244_matview_parity" -> spark, "q525_stream_enrich" -> spark.newSession()).foreach {
      case (name, caller) =>
        def run(): Unit = SparkEntry.queries(name)(caller, dir).collect()
        run()
        val afterOne = settled()
        (2 to 20).foreach(_ => run())
        val afterTwenty = settled()
        assert(afterTwenty <= afterOne,
          s"$name: $afterOne listeners after one run, $afterTwenty after 20")
    }
  }
}
