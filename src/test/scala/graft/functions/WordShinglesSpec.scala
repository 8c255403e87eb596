package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class WordShinglesSpec extends SparkSpec {

  /** The composable HOF form the expression replaces. */
  private def hofShingles(c: Column, n: Int): Column = {
    val tk = split(c, " ")
    when(size(tk) >= n,
      transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j)): _*)))
      .otherwise(array())
  }

  test("byte-identical to the HOF form on edge cases") {
    import spark.implicits._
    val cases = Seq(
      "", "a", "a b", "a b c", "a b c d e",
      "a  b  c",        // doubled spaces → empty tokens, spans keep them
      " a b ",          // leading/trailing space
      "héllo wörld çafé ünïts",  // multi-byte UTF-8
      "x y z " * 40)    // longer text
    val df = cases.toDF("text")
    Seq(2, 3, 5).foreach { n =>
      val rows = df.select(
          WordShingles(col("text"), n).as("native"),
          hofShingles(col("text"), n).as("hof"))
        .collect()
      rows.zip(cases).foreach { case (r, c) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text='$c': ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("different n coexist in one query") {
    import spark.implicits._
    // each handle carries its own n in the expression it builds: an
    // n=2 column built before an n=3 column keeps n=2
    val df = Seq("a b c d").toDF("text")
    val s2 = WordShingles(col("text"), 2)
    val s3 = WordShingles(col("text"), 3)
    val r = df.select(s2.as("a"), s3.as("b")).head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
  }

  test("matches on the full documents corpus (explode-count parity)") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val native = d.select(col("doc_id"),
        explode(WordShingles(col("text"), 3)).as("s"))
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = d.select(col("doc_id"),
        explode(hofShingles(col("text"), 3)).as("s"))
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hof && native.nonEmpty)
  }

  test("participates in whole-stage codegen") {
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val plan = d.select(explode(WordShingles(col("text"), 3)))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert(plan.contains("*(1) Generate explode(word_shingles"), plan)
  }
}
