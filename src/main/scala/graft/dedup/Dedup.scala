package graft.dedup

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level near-duplicate removal: pairs → clusters → keep one
  * canonical document per cluster.
  *
  * Clustering is min-id label propagation with pointer jumping over
  * the pair edges (connected components without a graph library).
  * Each round does (1) adopt the smallest label among self and
  * neighbours — one hop — then (2) label-on-label doubling
  * (`label := label(label)`), which halves the remaining pointer
  * depth, so a chain of diameter d converges in O(log d) rounds —
  * plain one-hop propagation would need d rounds. Each round is two
  * joins + one aggregation — all shuffle-shaped, no driver-side
  * looping over rows. If `maxIters` is exhausted before the fixed
  * point a warning is logged: some clusters would then have more
  * than one canonical doc (under-deduplication), never a wrong merge.
  */
object Dedup extends Logging {

  /** Connected components over undirected `pairs` (doc_a, doc_b).
    * Returns (doc_id, cluster_id = min doc id reachable).
    *
    * Candidate-pair edge sets are the OUTPUT of near-dup detection —
    * orders of magnitude smaller than the corpus they came from. Below
    * `localEdgeCap` the component solve runs exactly on the driver
    * (path-compressed union-find over the collected pairs — the same
    * small-side principle as a broadcast join, and ~free next to the
    * pair generation); past the cap, or for non-integral ids, the
    * distributed label-propagation loop below takes over. Both paths
    * produce identical (doc_id, min-reachable-id) labelings
    * (DedupSpec pins the equivalence; q71 oracle-gates the result
    * against a recursive closure).
    *
    * `localEdgeCap` PROVENANCE (min-of-3 same-JVM, 32-core/128 GiB,
    * SCALING.md "Round 11: the last chosen-not-measured cutoff"): the
    * cap counts DIRECTED edges (the doubled frame), so 2²⁰ ≈ 5·10⁵
    * input pairs. The crossover is component-SHAPE-dependent —
    * isolated-pair corpora (the common near-dup output) flip to
    * distributed at ~3·10⁵ input pairs (×2.2 against local at 10⁶),
    * while chain-shaped corpora keep local winning ×3–6 until ~3·10⁶
    * (label propagation pays O(log diameter) join rounds that
    * union-find doesn't). The default
    * sits between the two crossovers because the mis-route costs are
    * asymmetric: a pairs corpus at the cap boundary pays ≤×2, lowering
    * the cap a decade would cost chain corpora ×3–6. Driver heap
    * bounds the cap independently: the collected state at 2²⁰ is
    * ~16 MB, while the 10⁷-edge rung (three orders up) OOMed a 4 GiB
    * driver — raise the cap only with the heap to back it.
    */
  def clusters(
      pairs: DataFrame,
      maxIters: Int = 8,
      localEdgeCap: Long = 1L << 20): DataFrame = {
    val idType = pairs.schema("doc_a").dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // materialize pair generation ONCE: it appears in both branches of
    // the direction union, and upstream near-dup pipelines are far too
    // expensive to run twice (at cluster scale use reliable
    // checkpoint() instead)
    val p = pairs.localCheckpoint()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .cache()
    val nEdges = edges.count()
    if (integralIds && nEdges <= localEdgeCap) {
      val out = localClusters(edges, idType)
      edges.unpersist()
      return out
    }
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      // (1) one-hop min propagation. localCheckpoint truncates the
      // lineage each round — an iterative plan otherwise grows
      // exponentially and chokes the optimizer long before the data
      // does (at cluster scale use reliable checkpoint() instead).
      val neighbourMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nmin"))
      // checkpointed so the jump self-join reads it instead of
      // re-running the propagation twice (measured 6x slower without)
      // `old` rides along so convergence is a scan of the checkpointed
      // result, not another shuffle join against the previous labels
      val propagated = labels.join(neighbourMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          col("label").as("old"))
        .localCheckpoint()
      // (2) pointer jumping: adopt your label's label (labels only
      // shrink, so this is safe and halves chain depth per round)
      val next = propagated.as("a")
        .join(
          propagated.select(col("doc_id").as("p_id"), col("label").as("p_label")),
          col("a.label") === col("p_id"), "left")
        .select(col("a.doc_id").as("doc_id"),
          coalesce(col("p_label"), col("a.label")).as("label"),
          col("a.old").as("old"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.drop("old")
      i += 1
    }
    if (!converged)
      logWarning(s"Dedup.clusters did not converge in $maxIters rounds; " +
        "some duplicate chains may retain multiple canonical docs — raise maxIters")
    edges.unpersist()
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Driver-side exact components: path-compressed union-find over the
    * collected (already-distinct, cached) edge list, then min-id per
    * component as the cluster label.
    */
  private def localClusters(
      edges: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Only the (src <= dst) half of the direction-doubled frame ships:
    // union-find is symmetric, so half the rows carry full information
    // (self-loops survive the <= and register their node), and the
    // solve keys a primitive LongMap (SCALING.md round 11, localEdgeCap).
    // bounded-collect: O(localEdgeCap) — callers gate on nEdges <=
    // localEdgeCap, so at most that many pairs land on the driver;
    // past the cap the distributed label-propagation path runs instead
    val es = edges.filter(col("src") <= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labeled = parent.keys.toSeq.sorted.map(d => (d, find(d)))
    labeled.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
  }

  /** Multi-threshold bond-percolation census over a weighted
    * undirected graph `weighted` (u, v, w): for every threshold t,
    * the component structure of the subgraph keeping edges with
    * w ≥ t — (threshold, n_nodes, n_components, giant), where
    * n_nodes counts nodes incident to a kept edge.
    *
    * Thresholded edge sets are NESTED (t₂ ≥ t₁ ⇒ E_{t₂} ⊆ E_{t₁}),
    * so below `localEdgeCap` the whole census is ONE driver pass:
    * collect the edges once, process thresholds in descending order,
    * and union each threshold's incremental edges into a single
    * size-tracking union-find — O(E·α) total instead of |thresholds|
    * separate collect + solve + aggregate rounds (the previous q456
    * shape). Above the cap each threshold falls back to the
    * distributed `clusters` path and an aggregation, which is the
    * 100 TB shape; both paths produce identical exact-integer rows.
    */
  def percolation(
      weighted: DataFrame,
      thresholds: Seq[Long],
      maxIters: Int = 8,
      localEdgeCap: Long = 1L << 20): DataFrame = {
    val spark = weighted.sparkSession
    import spark.implicits._
    val thrDesc = thresholds.distinct.sorted.reverse
    val minThr = thrDesc.last
    val kept = weighted
      .filter(col("w") >= minThr)
      .select(col("u").cast("long"), col("v").cast("long"),
        col("w").cast("long"))
      .localCheckpoint()
    if (kept.count() <= localEdgeCap) {
      // bounded-collect: O(localEdgeCap) — gated on the count above,
      // same small-side principle as localClusters
      val es = kept.as[(Long, Long, Long)].collect()
      // primitive-keyed maps, same rationale as localClusters
      val parent = scala.collection.mutable.LongMap.empty[Long]
      val size = scala.collection.mutable.LongMap.empty[Long]
      var nNodes = 0L
      var nComponents = 0L
      var giant = 0L
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def touch(x: Long): Unit =
        if (!parent.contains(x)) {
          parent(x) = x; size(x) = 1L
          nNodes += 1L; nComponents += 1L
          if (giant < 1L) giant = 1L
        }
      val byThr = es.groupBy { case (_, _, w) =>
        thrDesc.find(w >= _).get // w ≥ minThr, so some threshold matches
      }
      val rows = thrDesc.map { thr =>
        byThr.getOrElse(thr, Array.empty[(Long, Long, Long)]).foreach {
          case (a, b, _) =>
            touch(a); touch(b)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) {
              val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
              parent(hi) = lo
              size(lo) = size(lo) + size(hi)
              nComponents -= 1L
              if (size(lo) > giant) giant = size(lo)
            }
        }
        (thr, nNodes, nComponents, giant)
      }
      rows.toDF("threshold", "n_nodes", "n_components", "giant")
    } else {
      thrDesc.map { thr =>
        clusters(kept.filter(col("w") >= thr)
            .select(col("u").as("doc_a"), col("v").as("doc_b")),
          maxIters, localEdgeCap)
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          // coalesce: a threshold that keeps zero edges yields an empty
          // grouped frame, so sum/max return NULL — the driver fast
          // path returns exact 0s, and both paths must agree
          .agg(count(lit(1)).as("n_components"),
            coalesce(sum("sz"), lit(0L)).as("n_nodes"),
            coalesce(max("sz"), lit(0L)).as("giant"))
          .select(lit(thr).as("threshold"), col("n_nodes"),
            col("n_components"), col("giant"))
      }.reduce(_ unionAll _)
    }
  }
}
