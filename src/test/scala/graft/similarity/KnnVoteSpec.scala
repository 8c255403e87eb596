package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** KnnVote on a hand-built, perfectly separable corpus: two orthogonal
  * clusters with small in-cluster jitter, so every neighbor of a
  * cluster member is in the same cluster and the vote is unanimous.
  */
class KnnVoteSpec extends SparkSpec {

  import spark.implicits._

  // cluster 0 points near e1, cluster 1 points near e2 (orthogonal)
  private def vec(axis: Int, jitter: Double): Seq[Float] = {
    val v = Array.fill(4)(0.0f)
    v(axis) = 1.0f
    v(3) = jitter.toFloat
    v.toSeq
  }

  private lazy val corpus = (0 until 10).map { i =>
    val cluster = i % 2
    (i.toLong, cluster.toLong, vec(cluster, 0.01 * (i / 2)))
  }.toDF("n_id", "n_label", "n_emb")

  test("classify: separable clusters vote unanimously and correctly") {
    val q = corpus.select(col("n_id").as("q_id"), col("n_label").as("q_label"),
      col("n_emb").as("q_emb"))
    val out = KnnVote.classify(q, corpus, k = 3).cache()
    assert(out.count() === 10)
    assert(out.filter(!col("correct")).isEmpty,
      "orthogonal clusters never cross-contaminate the vote")
    assert(out.filter(col("votes") =!= 3L).isEmpty, "votes are unanimous")
    out.unpersist()
  }

  test("audit: a planted wrong label is flagged suspect with zero agreement") {
    val planted = corpus.withColumn("n_label",
      when(col("n_id") === 0L, lit(1L)).otherwise(col("n_label")))
    val sample = planted.select(col("n_id").as("q_id"),
      col("n_label").as("q_label"), col("n_emb").as("q_emb"))
    val out = KnnVote.auditLabels(sample, planted, k = 3, suspectMax = 1L)
      .cache()
    val bad = out.filter(col("q_id") === 0L).head()
    assert(bad.getAs[Long]("agree_n") === 0L,
      "the mislabeled vector's geometric neighbors all disagree")
    assert(bad.getAs[Boolean]("suspect"))
    assert(bad.getAs[Long]("modal_label") === 0L,
      "the neighborhood recovers the true label")
    // every correctly-labeled vector in the far cluster stays clean
    assert(out.filter(col("q_id") % 2 === 1L && col("suspect")).isEmpty)
    out.unpersist()
  }
}
