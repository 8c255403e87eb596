package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic invariants for the round-40 gate queries. */
class Round40QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("target encoding: shrinks every category toward the prior") {
    val out = graft.SparkEntry.queries("q280_target_encoding")(spark, dir)
      .cache()
    assert(out.count() === 5, "one row per market segment")
    // the global mean from exact sums
    val o = graft.Tables.load(spark, dir, "orders")
    val prior = o.agg(sum(col("o_totalprice")).cast("double") /
      count(lit(1)).cast("double")).head().getDouble(0)
    // encoded lies strictly between the raw mean and the prior
    // (m > 0 pulls toward the prior, never past it)
    val bad = out.filter(
      !(((col("encoded") >= col("raw_mean") - 1e-6) &&
        (col("encoded") <= lit(prior) + 1e-6)) ||
        ((col("encoded") <= col("raw_mean") + 1e-6) &&
          (col("encoded") >= lit(prior) - 1e-6))))
    assert(bad.isEmpty, "encoding interpolates between category mean and prior")
    out.unpersist()
  }

  test("vocab growth: cumulative curve is monotone and closes the total") {
    val out = graft.SparkEntry.queries("q281_vocab_growth")(spark, dir).cache()
    assert(out.count() > 1, "the shingle vocabulary grows past one bucket")
    assert(out.filter(col("new_shingles") <= 0).isEmpty)
    // running sum is monotone increasing and ends at the distinct total
    val total = graft.Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.WordShingles(col("text"), 3))
        .as("sh")).select("sh").distinct().count()
    assert(out.agg(max("cum_vocab")).head().getLong(0) === total)
    assert(out.agg(sum("new_shingles")).head().getLong(0) === total,
      "every shingle is new in exactly one bucket")
    out.unpersist()
  }
}
