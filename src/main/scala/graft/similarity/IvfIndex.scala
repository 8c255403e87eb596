package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbour index.
  *
  * Brute-force cosine search is O(corpus × queries); the IVF scale
  * path clusters the corpus once (deterministic Lloyd's k-means) and
  * searches only the `nprobe` clusters nearest each query — at 100 TB
  * the cluster id becomes the partition key, so a query touches
  * `nprobe / k` of the data and each cluster scans independently.
  *
  * The centroid model (k × dim doubles) lives on the driver and is
  * shipped into expressions as an array literal, so assignment is a
  * NARROW map over the corpus — no crossJoin, no shuffle keyed on the
  * vector — and each training iteration is one scan + one tiny
  * aggregation by cluster id. That is the shape that survives 100 TB:
  * model broadcast, data never reshuffled.
  *
  * Determinism (so results are test- and gate-stable): centroids
  * initialize from the `k` lowest-id vectors, assignment ties break by
  * cluster id (first position of the minimum distance in the
  * cid-sorted centroid array), and centroid means are exact averages
  * of deterministic member sets.
  */
object IvfIndex {

  /** Squared L2 distance between a float-vector column and a
    * double-vector column, as a single fused HOF expression.
    */
  private def sqDist(v: Column, c: Column): Column =
    aggregate(
      zip_with(v, c, (x, y) => {
        val d = x.cast("double") - y
        d * d
      }),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest centroid id for a vector column, against a driver-side
    * centroid model: the codegen'd
    * [[graft.functions.NearestCentroids]] hot loop (m=1 subspace)
    * yields the argmin POSITION in the cid-sorted centroid array —
    * first minimum = lowest cid on ties — and a literal lookup maps
    * position back to the (possibly non-dense) cluster id.
    */
  private def nearestCid(v: Column, model: Seq[(Int, Seq[Double])]): Column = {
    val cents = model.sortBy(_._1)
    val cidArr = typedLit(cents.map(_._1))
    val pos = graft.functions.NearestCentroids(v, Seq(cents.map(_._2)))
    element_at(cidArr, element_at(pos, lit(1)) + 1)
  }

  /** Train `k` centroids with `iters` Lloyd iterations. Returns
    * (cluster_id: Int, centroid: Array[Double]).
    */
  def trainCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._

    // bounded-collect: limit(k) — exactly k seed vectors (model-sized)
    var centroids: Seq[(Int, Seq[Double])] = emb
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).map(_.toDouble) }
      .toSeq
    val dim = centroids.head._2.length

    for (_ <- 1 to iters) {
      // one scan: narrow assignment + per-dimension means by cluster
      val means = (1 to dim).map(i =>
        avg(element_at(col(vecCol), i).cast("double")).as(s"m$i"))
      // bounded-collect: grouped agg over cid — at most k centroid
      // rows (O(model)), never corpus rows
      centroids = emb
        .select(col(vecCol), nearestCid(col(vecCol), centroids).as("cid"))
        .groupBy("cid")
        .agg(means.head, means.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (1 to dim).map(r.getDouble).toSeq)
        .toSeq.sortBy(_._1)
    }
    centroids.toDF("cid", "centroid")
  }

  /** Assign every corpus vector to its nearest centroid — the
    * "index build"; a narrow projection (persist/partition the result
    * by `cid` at scale).
    */
  def assign(emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // bounded-collect: the centroid table is O(k) model rows by
    // construction (trainCentroids emits ≤ k)
    val model = centroids.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
    emb.withColumn("cid", nearestCid(col(vecCol), model))
  }

  /** Top-`topK` cosine neighbours per query, scanning only each
    * query's `nprobe` nearest clusters.
    */
  def search(
      index: DataFrame,      // corpus with cid (from assign)
      centroids: DataFrame,
      queries: DataFrame,    // (q_id, q_emb)
      idCol: String,
      vecCol: String,
      nprobe: Int,
      topK: Int): DataFrame = {
    val probeW = Window.partitionBy("q_id").orderBy("d", "cid")
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("d", sqDist(col("q_emb"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))

    val cos = graft.functions.CosineSimilarity(col("q_emb"), col(vecCol))
    val scored = probes.join(index, Seq("cid"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("cos", cos)
      .select(col("q_id"), col(idCol).as("n_id"), col("cos"))
    // bounded-heap top-k per query (graft.plans.TopKPerKey) instead of
    // a row_number window: candidates never get fully sorted, and the
    // partial phase caps shuffle volume at topK rows per query per
    // partition
    graft.plans.TopKPerKey.perKey(scored, Seq("q_id"),
      Seq(desc("cos"), asc("n_id")), topK, rankName = "rk")
  }
}
