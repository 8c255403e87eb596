package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Count-min sketch probe ([[CmsEstimate]]) against Spark's
  * `count_min_sketch` aggregate: the CMS contract
  * `exact ≤ estimate ≤ exact + eps·N` for every item, and
  * partitioning-invariance of the merged sketch (counter matrices add,
  * so HOW the rows were split across partials cannot change a bit).
  */
class CmsSketchSpec extends SparkSpec {

  private val eps = 0.001

  private def tokens = {
    import spark.implicits._
    (Seq.fill(40)("alpha") ++ Seq.fill(25)("beta") ++ Seq.fill(10)("gamma") ++
      Seq.fill(3)("delta") ++ Seq("epsilon", "zeta", "eta")).toDF("w")
  }

  test("estimates bound exact counts: exact <= cms <= exact + eps*N") {
    val df = tokens
    val n = df.count()
    val sketch = df.agg(expr(s"count_min_sketch(w, ${eps}d, 0.99d, 7)").as("sk"))
    val probed = df.groupBy("w").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("w"), col("exact"),
        CmsEstimate(col("sk"), col("w")).as("est"))
      .collect()
    assert(probed.length == 7)
    probed.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: CMS undercounted $est < $exact")
      assert(est <= exact + (eps * n).ceil.toLong,
        s"${r.getString(0)}: CMS overcounted $est > $exact + eps*N")
    }
  }

  test("merged sketch is partitioning-invariant") {
    def estimates(parts: Int): Map[String, Long] = {
      val df = tokens.repartition(parts)
      val sketch = df.agg(expr(s"count_min_sketch(w, ${eps}d, 0.99d, 7)").as("sk"))
      df.distinct().crossJoin(broadcast(sketch))
        .select(col("w"), CmsEstimate(col("sk"), col("w")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(estimates(1) == estimates(13))
  }

  test("q160 gate: candidates probed, bound flags all hold") {
    val rows = graft.SparkEntry.queries("q160_cms_heavy_hitters")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(2) == 1L, s"${r.getString(0)}: cms_ge_exact flag 0")
      assert(r.getLong(3) == 1L, s"${r.getString(0)}: cms_within_eps flag 0")
    }
  }
}
