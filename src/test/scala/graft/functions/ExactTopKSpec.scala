package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ExactTopK: every TypedImperativeAggregate phase — per-row update,
  * serialized partial merge across partitions, final evaluate.
  */
class ExactTopKSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed top-k, descending, duplicates kept") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 5L), ("a", 3L), ("b", 2L))
      .toDF("g", "v")
    val out = df.groupBy("g").agg(ExactTopK(col("v"), 3).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a") === Seq(5L, 5L, 3L))
    assert(out("b") === Seq(2L))
  }

  test("partitioning-invariant: merge path equals single-partition path") {
    val df = spark.range(0, 10000)
      .select((col("id") % 7).as("g"), ((col("id") * 37) % 9973).as("v"))
    def run(parts: Int) =
      df.repartition(parts)
        .groupBy("g").agg(ExactTopK(col("v"), 5).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(run(1) === run(32), "heap merge across partitions must not change the result")
  }

  test("k larger than the group returns the whole group sorted") {
    val df = Seq(1L, 9L, 4L).toDF("v").withColumn("g", lit("x"))
    val out = df.groupBy("g").agg(ExactTopK(col("v"), 10).as("t"))
      .head().getSeq[Long](1)
    assert(out === Seq(9L, 4L, 1L))
  }

  test("nulls are skipped, not counted") {
    val df = Seq(Some(3L), None, Some(7L), None).toDF("v")
      .withColumn("g", lit("x"))
    val out = df.groupBy("g").agg(ExactTopK(col("v"), 2).as("t"))
      .head().getSeq[Long](1)
    assert(out === Seq(7L, 3L))
  }
}
