package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkSpec

/** Executes representative gate queries and asserts — from the
  * PHYSICAL plan, not intent — that column pruning and predicate
  * pushdown actually reach the parquet scan. At 100 TB a scan that
  * reads every column for a four-column aggregate, or that applies
  * its selective filter after the read, is the difference between a
  * ~10% scan and a full-corpus scan; these pins were previously only
  * a dev tool (dev/Probe plan), so a regression could land
  * silently. Plan-string checks are deliberately loose on format
  * (Spark's scan rendering varies) but tight on the facts: which
  * columns the scan reads, which predicates it pushes.
  */
class ScanPruningSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** All FileSourceScanExec nodes (through AQE wrappers). */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan
    val roots = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    } match {
      case Seq() => Seq(plan)
      case ps    => ps
    }
    roots.flatMap(_.collect { case f: FileSourceScanExec => f })
  }

  private def scanOf(df: DataFrame, table: String): FileSourceScanExec =
    scans(df).find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"$table.parquet")))
      .getOrElse(fail(s"no parquet scan of $table in plan"))

  test("TPC-H Q6: scan reads exactly the four needed lineitem columns") {
    val q = graft.SparkEntry.queries("q221_tpch_q6")(spark, dir)
    val scan = scanOf(q, "lineitem")
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_shipdate", "l_discount", "l_quantity",
      "l_extendedprice"),
      s"Q6 scan reads $readCols — pruning regressed")
  }

  test("TPC-H Q6: shipdate and quantity predicates are pushed to the scan") {
    val q = graft.SparkEntry.queries("q221_tpch_q6")(spark, dir)
    val pushed = scanOf(q, "lineitem").metadata
      .getOrElse("PushedFilters", "")
    assert(pushed.contains("l_shipdate"),
      s"l_shipdate not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity"),
      s"l_quantity range not pushed: $pushed")
  }

  test("q01: grouped aggregate scans only its grouping and measure columns") {
    val q = graft.SparkEntry.queries("q01_groupby_agg")(spark, dir)
    val readCols = scanOf(q, "lineitem").requiredSchema.fieldNames.toSet
    // whatever the exact aggregate set, the wide fact's untouched
    // columns must not be read
    assert(readCols.size <= 5, s"q01 scan too wide: $readCols")
  }

  test("semi/anti join point lookups push the key filter") {
    val q = graft.SparkEntry.queries("q14_semi_join")(spark, dir)
    val all = scans(q)
    assert(all.nonEmpty)
    // every scan is column-pruned: no scan reads a full TPC-H fact row
    all.foreach { s =>
      assert(s.requiredSchema.fieldNames.length <= 8,
        s"unpruned scan: ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

}
