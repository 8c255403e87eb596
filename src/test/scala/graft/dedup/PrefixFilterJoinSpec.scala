package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PrefixFilterJoinSpec extends SparkSpec {

  /** Synthetic corpus with controlled overlap: ten families of
    * near-duplicates (high Jaccard inside a family, low across),
    * plus singletons sharing only ubiquitous stopwords.
    */
  private def corpus = {
    import spark.implicits._
    val stop = "the of and to in"
    val fams = (0 until 10).flatMap { f =>
      val base = (0 until 18).map(i => s"fam${f}_w$i")
      (0 until 4).map { v =>
        // each variant swaps one word — pairwise Jaccard 16/20..17/19
        val words = base.updated(17, s"fam${f}_v$v")
        (f * 10L + v, (stop.split(" ") ++ words).mkString(" "))
      }
    }
    val singles = (0 until 30).map(i =>
      (1000L + i, (stop + " " + (0 until 15).map(j => s"uniq${i}_w$j").mkString(" "))))
    (fams ++ singles).toDF("doc_id", "text")
  }

  private def brute(thetaNum: Int, thetaDen: Int) = {
    val tok = corpus.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tk"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = tok.select(col("doc_id").as("a_id"), col("tk"))
    val b = tok.select(col("doc_id").as("b_id"), col("tk"))
    a.join(b, "tk").filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .filter(col("shared") * (thetaDen + thetaNum) >= (col("na") + col("nb")) * thetaNum)
      .select("a_id", "b_id", "shared")
  }

  test("matches the brute-force join exactly at θ=0.8 (no false negatives)") {
    val got = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), 4, 5)
      .select("a_id", "b_id", "shared")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture must produce matching pairs")
    assert(got == want)
  }

  test("in-family variants match, cross-family pairs do not") {
    val got = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), 4, 5)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, b) => a / 10 == b / 10 && a < 100 && b < 100 })
    // every family contributes all C(4,2)=6 variant pairs
    assert(got.length == 10 * 6)
  }

  test("jaccard column is the exact ratio") {
    val rows = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), 4, 5)
      .select("shared", "jaccard").collect()
    // families: 23 distinct tokens/doc (5 stop + 18), variants share 22
    // → jaccard 22/24; identical-tail pairs impossible by construction
    assert(rows.forall(r => r.getDouble(1) == 22.0 / 24.0))
  }

  test("stopword-only overlap generates no verified pairs among singletons") {
    val got = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), 1, 2)
      .filter(col("a_id") >= 1000).collect()
    assert(got.isEmpty)
  }
}
