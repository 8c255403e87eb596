package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-NN majority voting over an embedding corpus.
  *
  * One shape serves both label propagation (classify unlabeled rows by
  * their neighbors' labels, q262) and label auditing (score every
  * labeled row's agreement with its neighborhood, q265 — the
  * confident-learning primitive). The query set is the broadcast side
  * and the candidate corpus STREAMS: no shuffle keyed on the vectors,
  * so the plan survives any corpus size as long as the query batch
  * fits a broadcast — for corpus-scale query sets, feed batches, or
  * swap the brute-force neighbor source for [[IvfIndex]]/LSH buckets
  * (same vote stage, cheaper neighbors).
  *
  * Determinism: neighbors rank by (cosine DESC, n_id ASC) and the
  * modal label by (votes DESC, label ASC) — total orders, so the
  * result is partition-layout independent.
  */
object KnnVote {

  /** Per-query neighbor-label votes with modal rank and own-label
    * agreement.
    *
    * @param queries    (q_id, q_label, q_emb) — q_label may be null
    *                   for genuinely unlabeled rows
    * @param candidates (n_id, n_label, n_emb)
    * @return one row per (q_id, voted label):
    *         q_id, q_label, n_label, votes, agree_n (votes for the
    *         query's own label, 0 if none), vr (1 = modal label under
    *         the total order)
    */
  def labelVotes(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val cos = graft.functions.CosineSimilarity(col("q_emb"), col("n_emb"))
    val wNn = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val votes = candidates.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cos)
      .withColumn("rk", row_number().over(wNn))
      .filter(col("rk") <= k)
      .groupBy("q_id", "q_label", "n_label")
      .agg(count(lit(1)).as("votes"))
    val wAll = Window.partitionBy("q_id")
    val wModal = Window.partitionBy("q_id")
      .orderBy(desc("votes"), asc("n_label"))
    votes
      .withColumn("agree_n",
        sum(when(col("n_label") === col("q_label"), col("votes"))
          .otherwise(0L)).over(wAll))
      .withColumn("vr", row_number().over(wModal))
  }

  /** Modal neighbor label per query — the k-NN classification. */
  def classify(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    labelVotes(queries, candidates, k)
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label"),
        col("n_label").as("predicted"), col("votes"),
        (col("n_label") === col("q_label")).as("correct"))

  /** Own-label agreement audit per query — low agreement flags a
    * probably-mislabeled example. `suspectMax` is the largest
    * agreement count still considered suspect.
    */
  def auditLabels(
      sample: DataFrame,
      corpus: DataFrame,
      k: Int,
      suspectMax: Long): DataFrame =
    labelVotes(sample, corpus, k)
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label"), col("agree_n"),
        col("n_label").as("modal_label"),
        (col("agree_n") <= suspectMax).as("suspect"))
}
