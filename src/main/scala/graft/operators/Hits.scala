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

  /** [[authorities]] with the form picked PER GRAPH by a pre-flight
    * node-count probe — the same doctrine as
    * `CorpusCuration.NearDupCandidates.Auto`: the 100 TB user should
    * not have to know the regime, the operator measures it. The
    * broadcast form's breaking costs are both keyed by the score
    * vector (per-half-step full-vector broadcasts and a single-task
    * O(nodes) ordered norm fold), so the probe is
    * max(approx |U|, approx |P|) — an HLL estimate (±2%) is plenty
    * for a regime boundary set an order of magnitude wide. The
    * default cutoff 5·10⁵ is the geometric mean of the measured
    * rungs: ~2·10⁵ nodes where broadcast wins 3× (20.2 vs 60.4 s)
    * and ~2·10⁶ where it loses 7× (461 vs 64 s) — SCALING.md
    * §Round 10 graph decade.
    *
    * The two forms agree per node to ~1e-9 (HitsVariantsSpec), but
    * only the broadcast form is BIT-stable under partitioning: a
    * caller that hash-compares against a SQL oracle must pin
    * `copartitioned = false` explicitly rather than use Auto.
    * When the probe picks the co-partitioned form, `parts` is
    * overridden to 0 (the session shuffle fan-out) per that form's
    * co-location contract.
    */
  def authoritiesAuto(
      edges: DataFrame,
      iters: Int = 6,
      parts: Int = 8,
      maxBroadcastNodes: Long = DefaultMaxBroadcastNodes): DataFrame = {
    val big = probeMaxNodes(edges) > maxBroadcastNodes
    authorities(edges, iters, parts = if (big) 0 else parts,
      copartitioned = big)
  }

  /** [[authoritiesAuto]]'s default cutoff — PROVENANCE: measured on a
    * 32-core/128 GiB single JVM (SCALING.md §Round 10 graph decade),
    * as the geometric mean of the two rungs where each form wins by
    * 3-7× (broadcast at ~2·10⁵ nodes, co-partitioned at ~2·10⁶).
    * Order-of-magnitude margin on BOTH sides, so modest hardware
    * differences cannot flip a rung onto the wrong form — but the
    * breaking costs are driver-broadcast and single-task-fold bound,
    * so a cluster with a different driver/executor memory ratio should
    * re-probe its own rungs (SCALING.md "Round 10: the graph family's
    * own decade" has the protocol) rather than inherit this box's
    * constant blindly.
    */
  val DefaultMaxBroadcastNodes: Long = 500000L

  /** The probe behind [[authoritiesAuto]], exposed for specs and
    * harnesses: the larger of the two sides' HLL node-count estimates.
    */
  def probeMaxNodes(edges: DataFrame): Long = {
    val r = edges.agg(
      approx_count_distinct(col("u")).as("nu"),
      approx_count_distinct(col("p")).as("np"))
      // bounded-collect: O(1) — one global aggregate row (two HLLs)
      .collect()(0)
    math.max(r.getLong(0), r.getLong(1))
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
