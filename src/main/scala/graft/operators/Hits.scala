package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HITS authority scores over a bipartite edge list — in two
  * execution shapes with identical semantics and different scale
  * ceilings.
  *
  * '''Broadcast form''' (`copartitioned = false`, the small-graph
  * default and the q472 gate shape): both edge orientations cached
  * hash-partitioned on their FOLD key, the O(nodes) score vector
  * broadcast into the cached layout each half-step, every Σ a
  * bit-stable ordered fold ([[graft.functions.KeyOrderedFold]] in
  * ascending neighbor-id order) including a single-group norm fold.
  * Exchange-free folds, SQL-oracle-hashable to the last bit — but
  * each half-step ships the whole score vector to every executor and
  * folds O(nodes) doubles in one task's array. The crossover is
  * MEASURED, and it arrives much earlier than the 10⁹-node
  * back-of-envelope: at ~2·10⁵ authorities (the sf1 rung) this form
  * wins 20.2 s vs the co-partitioned 60.4 s, but at ~2·10⁶ (sf10,
  * ×10 edges) it degrades ×22.8 to 461 s — 31 s max tasks, the
  * single-task ordered norm folds and per-half-step full-vector
  * broadcasts — while the co-partitioned form stays flat at 64 s
  * (SCALING.md §Round 10 graph decade).
  *
  * '''Co-partitioned form''' (`copartitioned = true`, the 100 TB
  * shape): the edge cache keyed by the JOIN key instead, the score
  * vector REPARTITIONED into that layout per half-step (one
  * O(nodes) shuffle, no executor-wide copy), contributions summed
  * with map-side partial aggregation (shuffle carries per-partition
  * partials, not |E| rows), and the norm two-level (per-partition
  * partial Σx², O(parts) partials combined at the end — never
  * O(nodes) values in one array). The price is bit-reproducibility:
  * float partial-sum order is not fixed, so results match the
  * broadcast form to ~1e-9 relative (HITS is a converging power
  * iteration; rankings agree exactly unless two authorities are
  * equal to within accumulated noise). Verified against the
  * broadcast form in `HitsVariantsSpec`, tolerance-gated like the
  * sketch operators.
  */
object Hits {

  /** (part, authority) after `iters` full HITS rounds with L2
    * normalization, over a DISTINCT bipartite edge list with long
    * columns (`u`, `p`). `parts` sizes the edge caches; for the
    * co-partitioned form pass 0 (the default session shuffle
    * fan-out) so aggregation outputs land co-located with the edge
    * caches — a non-matching explicit value still computes correctly
    * but pays an extra exchange per half-step.
    */
  def authorities(
      edges: DataFrame,
      iters: Int = 6,
      parts: Int = 8,
      copartitioned: Boolean = false): DataFrame = {
    // iters = 0 would leave the authority frame unbuilt and NPE at
    // the final checkpoint — fail with the actual contract instead
    require(iters >= 1, s"HITS needs at least one iteration, got $iters")
    if (copartitioned) copartitionedAuthorities(edges, iters, parts)
    else broadcastAuthorities(edges, iters, parts)
  }

  /** The q472 gate shape (see GraphGates for the hash-gated
    * original and its in-file commentary).
    */
  private def broadcastAuthorities(
      edges: DataFrame, iters: Int, parts: Int): DataFrame = {
    val eP = edges.repartition(parts, col("p")).persist()
    val eU = edges.repartition(parts, col("u")).persist()
    def foldSum(key: String, v: String): Column =
      graft.functions.KeyOrderedFold.sum(collect_list(struct(col(key), col(v))))
    def foldSumSq(key: String, v: String): Column =
      sqrt(graft.functions.KeyOrderedFold.sumSq(collect_list(struct(col(key), col(v)))))
    var h = eU.select("u").distinct()
      .select(col("u"), lit(1.0).as("h")).localCheckpoint()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = eP.join(broadcast(h), "u").groupBy("p")
        .agg(foldSum("u", "h").as("araw"))
        .localCheckpoint(eager = false)
      val aNrm = aRaw.agg(foldSumSq("p", "araw").as("nrm"))
      a = aRaw.crossJoin(broadcast(aNrm))
        .select(col("p"), (col("araw") / col("nrm")).as("a"))
      val hRaw = eU.join(broadcast(a), "p").groupBy("u")
        .agg(foldSum("p", "a").as("hraw"))
        .localCheckpoint(eager = false)
      val hNrm = hRaw.agg(foldSumSq("u", "hraw").as("nrm"))
      h = hRaw.crossJoin(broadcast(hNrm))
        .select(col("u"), (col("hraw") / col("nrm")).as("h"))
    }
    val out = a.localCheckpoint()
    eP.unpersist(); eU.unpersist()
    out.select(col("p"), col("a").as("authority"))
  }

  /** The scale shape: score shuffle instead of broadcast,
    * partial-aggregated sums instead of ordered folds, two-level
    * norm instead of a single-group array.
    *
    * Co-location contract: the edge caches are hash-partitioned on
    * their JOIN key at the SESSION shuffle fan-out, so every
    * half-step's grouped-sum OUTPUT (hashpartitioning(key,
    * shuffle.partitions)) lands already co-located with the next
    * join's edge cache — the aggregation's own exchange IS the
    * score-vector shuffle, and no explicit repartition node is
    * needed (an explicit repartition always forces an exchange,
    * even a redundant one — measured 8.9 s vs the exchange-free
    * form on the sf0.1 graph). Net cost per half-step: exactly one
    * O(nodes)-partials exchange; the |E|-sized side never moves
    * after the two initial cache builds.
    */
  private def copartitionedAuthorities(
      edges: DataFrame, iters: Int, parts: Int): DataFrame = {
    val n = if (parts > 0) parts
      else edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val eU = edges.repartition(n, col("u")).persist()
    val eP = edges.repartition(n, col("p")).persist()
    // distinct() outputs hashpartitioning(u, n) — already co-located
    var h = eU.select("u").distinct()
      .select(col("u"), lit(1.0).as("h")).localCheckpoint()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = eU.join(h, "u").groupBy("p")
        .agg(sum(col("h")).as("araw"))
        .localCheckpoint(eager = false)
      // two-level norm: partial Σx² per partition, O(parts) partials
      // folded in the final stage — the plain agg plans exactly that
      val aNrm = aRaw.agg(sqrt(sum(col("araw") * col("araw"))).as("nrm"))
      a = aRaw.crossJoin(broadcast(aNrm))
        .select(col("p"), (col("araw") / col("nrm")).as("a"))
      val hRaw = eP.join(a, "p").groupBy("u")
        .agg(sum(col("a")).as("hraw"))
        .localCheckpoint(eager = false)
      val hNrm = hRaw.agg(sqrt(sum(col("hraw") * col("hraw"))).as("nrm"))
      h = hRaw.crossJoin(broadcast(hNrm))
        .select(col("u"), (col("hraw") / col("nrm")).as("h"))
    }
    val out = a.localCheckpoint()
    eU.unpersist(); eP.unpersist()
    out.select(col("p"), col("a").as("authority"))
  }
}
