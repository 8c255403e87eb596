package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The codegen'd nearest-centroids hot loop must be bit-identical to
  * the interpreted HOF form it replaced (distances as left-folded
  * (float→double − centroid)² sums, first minimum = lowest index on
  * ties), since the q45/q106 gates' outputs and recall floors were
  * pinned against that form.
  */
class NearestCentroidsSpec extends SparkSpec {

  import spark.implicits._

  /** The pre-round-6 interpreted form: per-subspace argmin via
    * transform + array_min + array_position over a codebook literal.
    */
  private def hofCodes(
      vec: org.apache.spark.sql.Column,
      book: Seq[Seq[Seq[Double]]]) = {
    val subDim = book.head.head.size
    array(book.indices.map { j =>
      val sv = slice(vec, j * subDim + 1, subDim)
      val dists = transform(typedLit(book(j)), c =>
        aggregate(
          zip_with(sv, c, (x, y) => { val d = x.cast("double") - y; d * d }),
          lit(0.0), (acc, x) => acc + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  private val book: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(-1.0, 2.0)),
    Seq(Seq(5.0, 5.0), Seq(-5.0, -5.0), Seq(0.25, -0.75)))

  test("matches the interpreted HOF form on mixed vectors") {
    val vecs = Seq(
      Seq(0.1f, 0.2f, 4.9f, 5.2f),
      Seq(1.2f, 0.9f, -4.8f, -5.1f),
      Seq(-0.9f, 1.9f, 0.3f, -0.8f),
      Seq(0.5f, 0.5f, 0.0f, 0.0f)).toDF("v")
    val got = vecs.select(
      NearestCentroids(col("v"), book).as("fast"),
      hofCodes(col("v"), book).as("slow")).collect()
    got.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"codegen ${r.getSeq[Int](0)} != HOF ${r.getSeq[Int](1)}")
    }
  }

  test("ties break to the lowest centroid index") {
    // duplicate centroids: distance ties exactly; first wins
    val dupBook = Seq(Seq(Seq(1.0, 1.0), Seq(1.0, 1.0), Seq(9.0, 9.0)))
    val out = Seq(Seq(1.0f, 1.0f)).toDF("v")
      .select(NearestCentroids(col("v"), dupBook).as("c"))
      .head().getSeq[Int](0)
    assert(out == Seq(0))
  }

  test("a vector shorter than m·subDim yields NULL") {
    val out = Seq(Seq(1.0f, 2.0f, 3.0f)).toDF("v")
      .select(NearestCentroids(col("v"), book).as("c"))
      .head()
    assert(out.isNullAt(0))
  }

  test("interpreted eval path agrees with codegen (real embeddings)") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val realBook = graft.similarity.PqIndex.train(
      emb, "vec_id", "embedding", m = 8, k = 4, iters = 1)
    val fast = NearestCentroids(col("embedding"), realBook)
    val rows = emb.select(col("vec_id"), fast.as("fast"),
        hofCodes(col("embedding"), realBook).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
      s"vec ${r.getLong(0)}: ${r.getSeq[Int](1)} != ${r.getSeq[Int](2)}"))
  }
}
