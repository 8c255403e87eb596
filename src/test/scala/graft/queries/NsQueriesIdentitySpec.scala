package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, SparkSpec}
import graft.analytics.NsQueries

/** The NS gates run the one definition of the reference's six
  * analytics queries: each gate's optimized plan is the same result as
  * its [[NsQueries]] function over [[NsGates.disruptions]] at the
  * gates' pinned clock, built in the session the gate runs in (q531's
  * carries its declared confs). A gate that grows a body of its own,
  * or a library form that drifts from what its oracle checks, fails
  * here.
  */
class NsQueriesIdentitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val clock = NsGates.clock

  private def d(s: SparkSession): DataFrame = NsGates.disruptions(s, dir)

  private val library: Seq[(String, SparkSession => DataFrame)] = Seq(
    "q31_ns_rolling_trend" -> (s => NsQueries.rollingTrend(d(s), clock)),
    "q32_ns_station_severity" -> (s => NsQueries.stationSeverity(d(s), NsGates.stationsDf(s))),
    "q33_ns_day_over_day" -> (s => NsQueries.dayOverDay(d(s))),
    "q34_ns_peak_hour" -> (s => NsQueries.peakHour(d(s))),
    "q35_ns_complex" -> (s => NsQueries.complexAnalytics(d(s), clock)),
    "q531_overlap_via_extension" -> (s => NsQueries.overlapping(d(s), clock)))

  library.foreach { case (name, query) =>
    test(s"$name's plan is NsQueries' plan") {
      val gate = SparkEntry.queries(name)(spark, dir)
      val own = query(gate.sparkSession)
      val (g, q) = (gate.queryExecution.optimizedPlan, own.queryExecution.optimizedPlan)
      assert(g.sameResult(q), s"\ngate:\n$g\nNsQueries:\n$q")
    }
  }
}
