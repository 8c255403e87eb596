package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ANN gates' shared exact-search half.
  *
  * q45 (IVF) and q106 (PQ) verify their approximate indexes with an
  * in-query recall floor against brute-force cosine top-k. k-means
  * puts the INDEX half outside any SQL oracle, but the BASELINE half
  * is plain deterministic cosine + top-k — fully DuckDB-expressible.
  * This object single-sources that baseline so that
  *
  *  - the recall floors inside q45/q106 and
  *  - the sibling hash gates q45b/q106b (SimilarityGates)
  *
  * run the IDENTICAL code path: the hash gates prove the baseline's
  * values/ranking against DuckDB, and the recall floors then measure
  * the approximate indexes against a PROVEN baseline. Together no
  * gate output is left without an oracle — the only unhashed numbers
  * left are the k-means cluster assignments themselves.
  *
  * Scale shape: the pool is capped at [[SamplePools.AnnQueryPool]]
  * points and broadcast, so the crossJoin is a map-side O(pool ·
  * corpus) scan — linear in the corpus — and the top-k runs through
  * [[graft.plans.TopKPerKey]]'s bounded pre-shuffle heaps (O(pool·k)
  * rows ever shuffle).
  */
object AnnBaseline {

  /** Deterministic capped query pool: every `stride`-th vec_id,
    * cut off at [[SamplePools.AnnQueryPool]] points (an uncapped
    * stride grows the pool with the corpus ⇒ quadratic baseline).
    */
  def queryPool(emb: DataFrame, stride: Long): DataFrame =
    emb
      .filter(col("vec_id") % stride === 0 &&
        col("vec_id") < lit(stride * SamplePools.AnnQueryPool))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Exact cosine top-k of the corpus for each pool query: broadcast
    * pool × corpus scan, codegen'd cosine, bounded-heap top-k with
    * the (cos DESC, n_id ASC) total tiebreak. Output columns:
    * (q_id, n_id, cos_bf, `rankName`).
    */
  def bruteForceTopK(
      emb: DataFrame,
      queries: DataFrame,
      k: Int,
      rankName: String): DataFrame = {
    val cos: Column =
      graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
    val scoredAll = emb.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_bf", cos)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_bf"))
    graft.plans.TopKPerKey.perKey(scoredAll, Seq("q_id"),
      Seq(desc("cos_bf"), asc("n_id")), k, rankName = rankName)
  }

  /** DuckDB twin of queryPool + bruteForceTopK: same pool predicate
    * (stride + cap literal interpolated from the same constant), the
    * q29-proven cosine formula (identical IEEE fold order to
    * [[graft.functions.CosineSimilarity]]), ROW_NUMBER with the same
    * tiebreak.
    */
  def oracleSql(stride: Long, k: Int, rankName: String): String = {
    val cap = stride * SamplePools.AnnQueryPool
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                   FROM embeddings
                   WHERE vec_id % $stride = 0 AND vec_id < $cap),
      c AS (SELECT vec_id AS n_id, embedding AS n_emb FROM embeddings),
      scored AS (
        SELECT q_id, n_id,
          list_sum(list_transform(list_zip(q_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(list_zip(q_emb, q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
           sqrt(list_sum(list_transform(list_zip(n_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cos_bf
        FROM c, q WHERE q_id <> n_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY cos_bf DESC, n_id) AS $rankName
        FROM scored)
      SELECT q_id, n_id, cos_bf, $rankName FROM ranked
      WHERE $rankName <= $k ORDER BY q_id, $rankName"""
  }
}
