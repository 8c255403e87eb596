package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MinHashSignatureSpec extends SparkSpec {

  test("one-buffer aggregate equals independent min(md5-prefix) aggregates") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("s"))

    val viaAgg = d.groupBy("doc_id")
      .agg(MinHashSignature(col("s"), 4).as("sig"))
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

    def pref(i: Int) = min(substring(md5(concat(lit(s"$i:"), col("s"))), 1, 15))
    val viaMins = d.groupBy("doc_id")
      .agg(pref(0).as("h0"), pref(1).as("h1"), pref(2).as("h2"), pref(3).as("h3"))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap

    assert(viaAgg == viaMins)
  }

  test("signature build plans as a hash aggregate, not a sort aggregate") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("s"))
    val plan = d.groupBy("doc_id")
      .agg(MinHashSignature(col("s"), 8).as("sig"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      "long minima must keep the aggregation hashable")
    assert(!plan.contains("SortAggregate"),
      s"string buffers would demote to SortAggregate:\n$plan")
  }

  test("null inputs leave minima untouched; all-null group yields null slots") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (1L, None), (2L, None))
      .toDF("k", "s")
    val out = df.groupBy("k").agg(MinHashSignature(col("s"), 2).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).forall(_ != null))
    assert(out(2L).forall(_ == null))
  }
}
