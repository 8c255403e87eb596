package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KmvSketchSpec extends SparkSpec {

  import spark.implicits._

  private def sketchOf(ids: Seq[Long], k: Int, parts: Int = 4): Seq[Long] = {
    val df = ids.toDF("id").repartition(parts)
    df.agg(Kmv.sketch(Kmv.hash60(col("id")), k).as("sk"))
      .select(col("sk")).head().getSeq[Long](0)
  }

  test("below k the sketch IS the distinct set and the estimate is exact") {
    val sk = sketchOf((1L to 50L) ++ (1L to 50L), k = 64)
    assert(sk.length == 50)
    assert(sk == sk.sorted)
    val est = Seq(1).toDF("x")
      .select(Kmv.estimate(typedLit(sk), 64).as("e")).head().getDouble(0)
    assert(est == 50.0)
  }

  test("estimate lands within 20% of a 20k-distinct ground truth") {
    val n = 20000L
    val df = spark.range(n).select(Kmv.hash60(col("id")).as("h"))
    val est = df.agg(Kmv.sketch(col("h"), 256).as("sk"))
      .select(Kmv.estimate(col("sk"), 256).as("e")).head().getDouble(0)
    assert(math.abs(est - n) / n < 0.2, s"estimate $est vs exact $n")
  }

  test("partition layout does not change the sketch (merge = one-shot)") {
    val ids = (1L to 5000L).map(i => i * 7919L % 6007L)
    assert(sketchOf(ids, 128, parts = 1) == sketchOf(ids, 128, parts = 8))
  }

  test("union and intersection estimates recover set algebra") {
    val a = (1L to 12000L)
    val b = (8001L to 20000L) // |a ∪ b| = 20000, |a ∩ b| = 4000
    val ha = a.toDF("id").agg(Kmv.sketch(Kmv.hash60(col("id")), 256)
      .as("sk")).head().getSeq[Long](0)
    val hb = b.toDF("id").agg(Kmv.sketch(Kmv.hash60(col("id")), 256)
      .as("sk")).head().getSeq[Long](0)
    val row = Seq(1).toDF("x").select(
      Kmv.unionEstimate(typedLit(ha), typedLit(hb), 256).as("u"),
      Kmv.intersectEstimate(typedLit(ha), typedLit(hb), 256).as("i"))
      .head()
    val (u, i) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(u - 20000) / 20000.0 < 0.2, s"union estimate $u")
    // intersection error compounds two thresholds — generous bound,
    // but it must clearly separate 4000 from 0 and from 12000
    assert(i > 1500 && i < 8000, s"intersection estimate $i")
  }

  test("small-side intersection and difference are exact (below k)") {
    val ha = (1L to 30L).toDF("id")
      .agg(Kmv.sketch(Kmv.hash60(col("id")), 64).as("sk"))
      .head().getSeq[Long](0)
    val hb = (21L to 40L).toDF("id")
      .agg(Kmv.sketch(Kmv.hash60(col("id")), 64).as("sk"))
      .head().getSeq[Long](0)
    val row = Seq(1).toDF("x").select(
      Kmv.intersectEstimate(typedLit(ha), typedLit(hb), 64).as("i"),
      Kmv.differenceEstimate(typedLit(ha), typedLit(hb), 64).as("ab"),
      Kmv.differenceEstimate(typedLit(hb), typedLit(ha), 64).as("ba"))
      .head()
    assert(row.getDouble(0) == 10.0) // |{21..30}|
    assert(row.getDouble(1) == 20.0) // |{1..20}|
    assert(row.getDouble(2) == 10.0) // |{31..40}|
  }
}
