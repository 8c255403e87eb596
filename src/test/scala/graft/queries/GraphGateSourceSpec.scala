package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphGateSourceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("cached() builds once per key and returns the same frame") {
    var builds = 0
    def frame = {
      builds += 1
      spark.range(5).select(col("id"))
    }
    val a = GraphGateSource.cached(spark, "spec-probe-1")(frame)
    val b = GraphGateSource.cached(spark, "spec-probe-1")(frame)
    assert(a eq b, "second lookup must hit the cache")
    assert(builds == 1, s"build ran $builds times")
    // a different key builds independently
    GraphGateSource.cached(spark, "spec-probe-2")(frame)
    assert(builds == 2)
  }

  test("invalidate() forces a rebuild (the ScaleSlopes contract)") {
    var builds = 0
    def frame = { builds += 1; spark.range(3).toDF("id") }
    GraphGateSource.cached(spark, "spec-probe-inv")(frame)
    GraphGateSource.invalidate()
    GraphGateSource.cached(spark, "spec-probe-inv")(frame)
    assert(builds == 2, "invalidate must drop the entry")
  }

  test("another session of the context gets the one build, bound to itself") {
    var builds = 0
    def frame = { builds += 1; spark.range(4).toDF("id") }
    val other = spark.newSession()
    val a = GraphGateSource.cached(spark, "spec-probe-rebind")(frame)
    val b = GraphGateSource.cached(other, "spec-probe-rebind")(frame)
    assert(builds == 1, s"build ran $builds times")
    assert(a.sparkSession eq spark)
    // so a query derived from it plans under that session's confs
    assert(b.sparkSession eq other, "the frame must plan in the session that asked")
    assert(b.collect().map(_.getLong(0)).sorted.toSeq == (0L until 4L))
  }

  test("copurchaseW matches an independent self-join derivation") {
    val got = GraphGateSource.copurchaseW(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val op = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val want = op.as("a").join(op.as("b"), Seq("o"))
      .filter(col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.forall { case (u, v, w) => u < v && w >= 1 })
  }

  test("custPartEdges is the distinct customer-part projection") {
    val got = GraphGateSource.custPartEdges(spark, dir)
    assert(got.columns.toSeq == Seq("u", "p"))
    val n = got.count()
    assert(n == got.distinct().count(), "must be distinct")
    assert(n > 0)
  }
}
