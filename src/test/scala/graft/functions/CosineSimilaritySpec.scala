package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CosineSimilaritySpec extends SparkSpec {

  private def hofCosine = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(col("a"), col("b")) /
      (sqrt(dot(col("a"), col("a"))) * sqrt(dot(col("b"), col("b"))))
  }

  private def vectors = {
    import spark.implicits._
    Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)),
      (Seq(0.3f, -0.7f, 0.11f), Seq(-0.25f, 0.44f, 0.9f)),
      (Seq(1e-8f, 2e-8f, -1e-8f), Seq(5f, -3f, 2f)))
      .toDF("a", "b")
  }

  test("bit-identical to the zip_with/aggregate HOF form") {
    val df = vectors.select(
      CosineSimilarity(col("a"), col("b")).as("native"),
      hofCosine.as("hof"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact, not approx
    }
  }

  test("bit-identical on real embeddings (codegen path, 64 dims)") {
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(e.limit(5).select(col("embedding").as("b")))
    val out = pairs.select(
      CosineSimilarity(col("a"), col("b")).as("native"),
      hofCosine.as("hof")).collect()
    assert(out.length == 2500)
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("identical vectors → 1.0; null input → null") {
    import spark.implicits._
    val one = Seq((Seq(0.5f, 0.25f), Seq(0.5f, 0.25f))).toDF("a", "b")
      .select(CosineSimilarity(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(one - 1.0) < 1e-15)
    val n = Seq((Some(Seq(1f)), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(CosineSimilarity(col("a"), col("b"))).collect()(0)
    assert(n.isNullAt(0))
  }
}
