package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.dedup.Dedup

/** Round-91 gate additions (q472–q476): link analysis (HITS),
  * density clustering (DBSCAN census), distribution-free uncertainty
  * (split conformal), linear Shapley attribution, and quantile-
  * forecast evaluation (pinball loss). Same exact-gating machinery
  * as round 90: ordered float folds for iterative algorithms, exact
  * integer lattices and cross-multiplied comparisons everywhere a
  * decision is made.
  */
object Round91Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec38(c: Column): Column = c.cast(DecimalType(38, 0))

  private def cents: Column =
    (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType)

  // ------------------------------------------------- HITS
  // Hubs-and-authorities over the customer→part purchase bipartite
  // graph, 6 alternating power steps: authority(p) = Σ hub(u) over
  // buyers, hub(u) = Σ authority(p) over their parts, L2-normalized
  // each half-step. FULLY DISTRIBUTED: the edge set (the corpus-
  // sized frame, derived from lineitem) never leaves Spark — each
  // half-step is one edges⋈scores equi-join plus a grouped ordered
  // fold. The score side (O(nodes)) is broadcast-hinted, which is
  // the right call while the score vector fits the broadcast budget;
  // past that the hint comes off and the join falls back to a
  // shuffle keyed like the cached edge layout — only the O(1) norm
  // scalars are irreducibly driver-bound. Every Σ is
  // a LEFT fold in neighbor-id order (the codegen'd KeyOrderedFold
  // over `collect_list(struct(key, val))` ≡ the oracle's
  // `list_reduce(list(x ORDER BY key))`; the 0.0 seed is exact
  // because 0.0 + x == x for the strictly positive terms), so six
  // rounds of float arithmetic stay bit-identical to the SQL oracle
  // regardless of partitioning. The norm's single-group fold holds
  // O(nodes) values in one array — bounded by the score-vector
  // state, never by |E|; per-half-step localCheckpoint truncates the
  // 12-step lineage. Top-10 authority parts — the "catalog anchors"
  // bought by the broadest heavy buyers.
  private val q472 = QueryDef(
    "q472_hits",
    // AQE OFF for the iteration loop (round-12 in-session A/B,
    // OPTIMIZATION_r12.md "Graph family": 3.51→3.23 and 3.18→2.92 s,
    // +8% twice): every join in the 12 half-steps is explicitly
    // broadcast-hinted and every fold is exchange-free on the pinned
    // edge layout, so adaptive
    // re-planning has NO decision space here — it re-plans 12
    // half-step chains for nothing, at any scale. The co-partitioned
    // sibling q529, whose per-iteration exchanges AQE does optimize,
    // measured the OPPOSITE (3.03→3.44 s with AQE off) and keeps it.
    // Results are bit-identical by construction (ordered folds are
    // partitioning-independent; oracle hash-gated).
    (s, dir) => QueryDef.withConf(s, "spark.sql.adaptive.enabled", "false") {
      // session-scoped shared edge cache (one build per JVM for both
      // HITS gates × all bench executions — see GraphGateSource)
      val edges = GraphGateSource.custPartEdges(s, dir)
      // BOTH orientations cached, each hash-partitioned on its fold
      // key (GraphX keeps the same dual layout): the score side
      // broadcasts, the broadcast join preserves the cached edge
      // partitioning, and each half-step's grouped fold is therefore
      // EXCHANGE-FREE — the |E|-sized frame is scanned 12× but never
      // re-shuffled after the two initial repartitions. Few fat
      // partitions: a 6-round loop pays per-task scheduling 12×; at
      // cluster scale this is the edge-partition count.
      val eP = edges.repartition(8, col("p")).persist()
      val eU = edges.repartition(8, col("u")).persist()
      // ordered left fold of `v` in ascending `key` order (key is
      // unique within each group, so the struct sort is total);
      // KeyOrderedFold = one compiled sort+fold loop per group,
      // bit-identical to the aggregate∘transform∘array_sort HOF
      // stack it replaced (KeyOrderedFoldSpec pins the parity)
      def foldSum(key: String, v: String): Column =
        graft.functions.KeyOrderedFold.sum(
          s, collect_list(struct(col(key), col(v))))
      def foldSumSq(key: String, v: String): Column =
        sqrt(graft.functions.KeyOrderedFold.sumSq(
          s, collect_list(struct(col(key), col(v)))))
      var h = eU.select("u").distinct()
        .select(col("u"), lit(1.0).as("h")).localCheckpoint()
      var a: DataFrame = null
      // the expensive stage of a half-step is the edges⋈scores join +
      // grouped fold (aRaw/hRaw) — checkpoint exactly THAT, so the
      // norm subquery, the normalized projection, and the next
      // half-step all read the materialized O(nodes) frame instead of
      // re-running the corpus-sized join (unmaterialized, the embedded
      // norm broadcast re-evaluates the join 3× per half-step)
      // lazy checkpoints: the norm aggregation (first consumer) is
      // the job that materializes each raw frame — an eager
      // localCheckpoint would pay a 13th-24th scheduling round just
      // to count rows nobody reads
      for (_ <- 1 to 6) {
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
      // Materialize the final authority frame (eager checkpoint runs
      // the whole lazy half-step chain in one job) WHILE the edge
      // caches are still live — unpersisting first would drop them
      // before the 12 half-step joins ever read them, re-shuffling
      // the edges every iteration.
      a = a.localCheckpoint()
      eP.unpersist(); eU.unpersist()
      val top = a.orderBy(col("a").desc, col("p")).limit(10)
      top.select(
          row_number().over(Window.orderBy(col("a").desc, col("p")))
            .cast(LongType).as("rnk"),
          col("p").cast(LongType).as("part"), col("a").as("authority"))
        .orderBy("rnk")
    },
    Some(hitsOracleSql(withAuthority = true)),
    covers = Seq("GRAPH-hits"))

  /** q472's DuckDB HITS recursion (6 unrolled rounds of ordered
    * list_reduce folds ≡ the gate's KeyOrderedFold semantics).
    * `withAuthority = false` projects rank and part only — the
    * float-free projection the co-partitioned gate (q529) hashes,
    * since that variant matches the ordered-fold scores to ~1e-9
    * but not to the bit.
    */
  private[queries] def hitsOracleSql(withAuthority: Boolean, iters: Int = 6): String = {
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT e.p,
          list_reduce(list(h.h ORDER BY e.u), (a, b) -> a + b) AS a
        FROM edges e JOIN h${k - 1} h ON h.u = e.u GROUP BY e.p),
      an$k AS MATERIALIZED (SELECT sqrt(list_reduce(
          list(a * a ORDER BY p), (x, y) -> x + y)) AS nrm FROM ar$k),
      a$k AS MATERIALIZED (SELECT p,
          a / (SELECT nrm FROM an$k) AS a FROM ar$k),
      hr$k AS MATERIALIZED (SELECT e.u,
          list_reduce(list(a.a ORDER BY e.p), (x, y) -> x + y) AS h
        FROM edges e JOIN a$k a ON a.p = e.p GROUP BY e.u),
      hn$k AS MATERIALIZED (SELECT sqrt(list_reduce(
          list(h * h ORDER BY u), (x, y) -> x + y)) AS nrm FROM hr$k),
      h$k AS MATERIALIZED (SELECT u,
          h / (SELECT nrm FROM hn$k) AS h FROM hr$k)"""
    }.mkString(",\n      ")
    val proj =
      if (withAuthority) "CAST(p AS BIGINT) AS part, a AS authority"
      else "CAST(p AS BIGINT) AS part"
    s"""WITH edges AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS u,
          l.l_partkey AS p
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      h0 AS (SELECT DISTINCT u, CAST(1.0 AS DOUBLE) AS h FROM edges),
      $rounds
      SELECT CAST(row_number() OVER (ORDER BY a DESC, p) AS BIGINT)
          AS rnk,
        $proj
      FROM a$iters ORDER BY a DESC, p LIMIT 10"""
  }

  // ------------------------------------------------- DBSCAN census
  // DBSCAN structure census on the embedding lattice (vectors with
  // id < 600): ε² self-tunes to the P5 of pairwise exact squared
  // distances, minPts = 5. Core / border / noise classification and
  // the core-graph component count (Dedup union-find; oracle = 16
  // unrolled min-label rounds) are all integer decisions — density
  // clustering with not one float compare.
  private val q473 = QueryDef(
    "q473_dbscan_census",
    (s, dir) => {
      // pool = SamplePools.DbscanPool-sized id-prefix sample; the
      // iteration below is O(pool²) and NEVER sees the full corpus.
      // Pairwise distances: broadcast pair join + the codegen'd
      // QuantizedL2 loop (one fused loop per candidate pair). This
      // replaced a per-dimension posexplode → 64-key shuffle join →
      // pool²·dims-row hash aggregate; bit-identical LONG distances
      // on the same ⌊x·2²⁰⌋ lattice as the oracle. (A zip_with-fold
      // HOF variant was also measured and rejected earlier — the
      // interpreted lambdas lose to both codegen forms.)
      val vecs = t(s, dir, "embeddings")
        .filter(col("vec_id") < SamplePools.DbscanPool)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val d2 = vecs.as("a")
        .join(broadcast(vecs.as("b")), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          graft.functions.QuantizedL2(s, col("a.embedding"),
            col("b.embedding")).as("d2"))
        .localCheckpoint()
      val eps = d2.agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY d2)")
          .cast(LongType).as("eps2"))
      val nbr = d2.crossJoin(broadcast(eps))
        .filter(col("d2") <= col("eps2"))
        .select(col("va"), col("vb"))
        .localCheckpoint()
      val deg = nbr.select(col("va").as("v"))
        .unionAll(nbr.select(col("vb").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val core = deg.filter(col("deg") >= 5).select("v")
        .localCheckpoint()
      val coreEdges = nbr
        .join(core.select(col("v").as("va")), Seq("va"))
        .join(core.select(col("v").as("vb")), Seq("vb"))
        .select(col("va").as("doc_a"), col("vb").as("doc_b"))
        .localCheckpoint()
      val compRow = Dedup.clusters(coreEdges, localEdgeCap = 1L << 23)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(max("sz"), lit(0L)).as("giant"))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val borderSet = nbr
        .select(col("va").as("v"), col("vb").as("o"))
        .unionAll(nbr.select(col("vb").as("v"), col("va").as("o")))
        .join(core.select(col("v").as("o")), Seq("o"))
        .select("v").distinct()
        .join(core, Seq("v"), "left_anti")
      // the four census counts run as ONE action (cross-joined
      // single-row aggregates over the checkpointed frames) instead
      // of four sequential jobs — same exact longs, a quarter of the
      // scheduler round-trips
      val census = vecs.agg(countDistinct("vec_id").as("n_points"))
        .crossJoin(core.agg(count(lit(1)).as("n_core")))
        .crossJoin(borderSet.agg(count(lit(1)).as("n_border")))
        .crossJoin(coreEdges
          .select(col("doc_a").as("v"))
          .unionAll(coreEdges.select(col("doc_b").as("v")))
          .distinct().agg(count(lit(1)).as("n_core_in_edges")))
        // bounded-collect: one fully-aggregated summary row
        .collect()(0)
      val nAll = census.getLong(0)
      val nCore = census.getLong(1)
      val border = census.getLong(2)
      // a core point with no core NEIGHBOR is still its own DBSCAN
      // cluster — union-find only sees edge endpoints, so add the
      // isolated cores back (the oracle mirrors this)
      val isolated = nCore - census.getLong(3)
      val nClusters = compRow.getLong(0) + isolated
      val giant =
        if (compRow.getLong(1) == 0L && isolated > 0L) 1L
        else compRow.getLong(1)
      import s.implicits._
      Seq((nAll, nCore, border, nAll - nCore - border, nClusters, giant))
        .toDF("n_points", "n_core", "n_border", "n_noise",
          "n_clusters", "giant")
    },
    Some {
      val prop = (0 until 16).map { i =>
        s"""l${i + 1} AS MATERIALIZED (SELECT e.a AS node,
          LEAST(MIN(l.lab), MIN(sf.lab)) AS lab
        FROM ce2 e JOIN l$i l ON l.node = e.b
        JOIN l$i sf ON sf.node = e.a GROUP BY e.a)"""
      }.mkString(",\n      ")
      s"""WITH vd AS MATERIALIZED (SELECT vec_id, dd.i - 1 AS d,
          CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd
        WHERE vec_id < 600),
      d2 AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
          CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
        FROM vd a JOIN vd b ON b.d = a.d AND a.vec_id < b.vec_id
        GROUP BY 1, 2),
      eps AS (SELECT CAST(percentile_disc(0.05)
          WITHIN GROUP (ORDER BY d2) AS BIGINT) AS eps2 FROM d2),
      nbr AS MATERIALIZED (SELECT va, vb FROM d2 CROSS JOIN eps
        WHERE d2 <= eps2),
      deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT va AS v FROM nbr UNION ALL SELECT vb FROM nbr)
        GROUP BY v),
      core AS MATERIALIZED (SELECT v FROM deg WHERE deg >= 5),
      ce AS MATERIALIZED (SELECT n.va AS a, n.vb AS b FROM nbr n
        JOIN core c1 ON c1.v = n.va JOIN core c2 ON c2.v = n.vb),
      ce2 AS MATERIALIZED (SELECT a, b FROM ce
        UNION ALL SELECT b, a FROM ce),
      l0 AS MATERIALIZED (SELECT a AS node, a AS lab
        FROM (SELECT DISTINCT a FROM ce2)),
      $prop,
      comp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
          CAST(COALESCE(MAX(sz), 0) AS BIGINT) AS giant
        FROM (SELECT lab, COUNT(*) AS sz FROM l16 GROUP BY lab)),
      isolated_core AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM core
        WHERE v NOT IN (SELECT a FROM ce2)),
      counts AS (SELECT
          (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM vd)
            AS n_points,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS n_core,
          (SELECT CAST(COUNT(DISTINCT x.v) AS BIGINT)
            FROM (SELECT va AS v, vb AS o FROM nbr
              UNION ALL SELECT vb, va FROM nbr) x
            JOIN core c ON c.v = x.o
            WHERE x.v NOT IN (SELECT v FROM core)) AS n_border)
      SELECT c.n_points, c.n_core, c.n_border,
        c.n_points - c.n_core - c.n_border AS n_noise,
        p.n_clusters + i.n AS n_clusters,
        CASE WHEN p.giant = 0 AND i.n > 0 THEN 1
          ELSE p.giant END AS giant
      FROM counts c CROSS JOIN comp p CROSS JOIN isolated_core i"""
    },
    covers = Seq("ML-dbscan"))

  // ------------------------------------------------- conformal
  // Split conformal prediction for order value: the 1995–97 segment
  // mean predicts; 1998 calibrates (P90 of absolute residuals —
  // residual NUMERATORS |n·y − S| share the denominator n, so the
  // quantile is an exact integer pick); 1999+ tests. Coverage
  // membership is the exact comparison |n·y − S| ≤ R̂ — the 90%
  // marginal-coverage guarantee audited without one float decision.
  private val q474 = QueryDef(
    "q474_conformal_interval",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"), cents.as("y"),
          year(to_date(col("o_orderdate"))).as("yr"))
      val train = o.filter(col("yr") <= 1997)
        .groupBy("segment").agg(sum("y").as("s_tr"), count(lit(1)).as("n_tr"))
      val cal = o.filter(col("yr") === 1998)
        .join(broadcast(train), Seq("segment"))
        .select(col("segment"),
          abs(col("n_tr") * col("y") - col("s_tr")).as("r"))
      val qhat = cal.groupBy("segment")
        .agg(count(lit(1)).as("n_cal"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY r)")
            .cast(LongType).as("rq"))
      val test = o.filter(col("yr") >= 1999)
        .join(broadcast(train), Seq("segment"))
        .join(broadcast(qhat), Seq("segment"))
        .groupBy("segment", "s_tr", "n_tr", "n_cal", "rq")
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("n_tr") * col("y") - col("s_tr")) <= col("rq"),
            1L).otherwise(0L)).as("n_covered"))
      test.select(col("segment"), col("n_cal"), col("n_test"),
          (col("s_tr").cast("double") / col("n_tr").cast("double"))
            .as("center_cents"),
          (col("rq").cast("double") / col("n_tr").cast("double"))
            .as("halfwidth_cents"),
          (col("n_covered").cast("double") / col("n_test").cast("double"))
            .as("coverage"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          year(CAST(o.o_orderdate AS DATE)) AS yr
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      train AS (SELECT segment, CAST(SUM(y) AS BIGINT) AS s_tr,
          CAST(COUNT(*) AS BIGINT) AS n_tr
        FROM o WHERE yr <= 1997 GROUP BY segment),
      cal AS (SELECT o.segment, ABS(t.n_tr * o.y - t.s_tr) AS r
        FROM o JOIN train t ON t.segment = o.segment
        WHERE o.yr = 1998),
      qhat AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_cal,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY r)
            AS BIGINT) AS rq
        FROM cal GROUP BY segment),
      test AS (SELECT o.segment, t.s_tr, t.n_tr, q.n_cal, q.rq,
          CAST(COUNT(*) AS BIGINT) AS n_test,
          CAST(COUNT(*) FILTER (WHERE ABS(t.n_tr * o.y - t.s_tr)
            <= q.rq) AS BIGINT) AS n_covered
        FROM o JOIN train t ON t.segment = o.segment
        JOIN qhat q ON q.segment = o.segment
        WHERE o.yr >= 1999
        GROUP BY 1, 2, 3, 4, 5)
      SELECT segment, n_cal, n_test,
        CAST(s_tr AS DOUBLE) / CAST(n_tr AS DOUBLE) AS center_cents,
        CAST(rq AS DOUBLE) / CAST(n_tr AS DOUBLE) AS halfwidth_cents,
        CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
      FROM test ORDER BY segment"""),
    covers = Seq("ML-conformal"))

  // ------------------------------------------------- linear Shapley
  // Global feature attribution of the q471 model: for a linear
  // model the Shapley value is exactly β_j·(x_j − x̄_j), so mean
  // |attribution| = |β_j| · MAD_j with MAD_j = Σ|n·x_j − S_j|/n² —
  // an exact integer sum. Betas come from the same Cramer
  // determinants; importance shares are two divisions.
  private val q475 = QueryDef(
    "q475_shapley_linear",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(
          (year(to_date(col("o_orderdate"))) - 1995).cast(LongType).as("x1"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("x2"),
          cents.as("y"))
      val m = o.agg(
        count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum("y").as("sy")).localCheckpoint()
      val mads = o.crossJoin(broadcast(m))
        .agg(sum(abs(col("n") * col("x1") - col("s1"))).as("mad1n"),
          sum(abs(col("n") * col("x2") - col("s2"))).as("mad2n"))
      def det(a: Column, b: Column, c: Column,
              d: Column, e: Column, f: Column,
              g: Column, h: Column, i: Column): Column =
        dec38(a) * (dec38(e) * dec38(i) - dec38(f) * dec38(h)) -
          dec38(b) * (dec38(d) * dec38(i) - dec38(f) * dec38(g)) +
          dec38(c) * (dec38(d) * dec38(h) - dec38(e) * dec38(g))
      val betas = m.select(col("n"),
          det(col("n"), col("s1"), col("s2"),
            col("s1"), col("s11"), col("s12"),
            col("s2"), col("s12"), col("s22")).as("dd"),
          det(col("n"), col("sy"), col("s2"),
            col("s1"), col("s1y"), col("s12"),
            col("s2"), col("s2y"), col("s22")).as("d1"),
          det(col("n"), col("s1"), col("sy"),
            col("s1"), col("s11"), col("s1y"),
            col("s2"), col("s12"), col("s2y")).as("d2"))
        .select(col("n"),
          (col("d1").cast("double") / col("dd").cast("double")).as("b1"),
          (col("d2").cast("double") / col("dd").cast("double")).as("b2"))
      betas.crossJoin(mads)
        .select(col("n"), col("b1"), col("b2"),
          (abs(col("b1")) * (col("mad1n").cast("double") /
            (col("n") * col("n")).cast("double"))).as("imp1"),
          (abs(col("b2")) * (col("mad2n").cast("double") /
            (col("n") * col("n")).cast("double"))).as("imp2"))
        .select(col("n"), col("b1"), col("b2"), col("imp1"), col("imp2"),
          (col("imp1") / (col("imp1") + col("imp2"))).as("share_year"))
    },
    Some("""WITH o AS (SELECT
          CAST(year(CAST(o_orderdate AS DATE)) - 1995 AS BIGINT) AS x1,
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            AS x2,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
          CAST(SUM(x1 * x1) AS BIGINT) AS s11,
          CAST(SUM(x1 * x2) AS BIGINT) AS s12,
          CAST(SUM(x2 * x2) AS BIGINT) AS s22,
          CAST(SUM(x1 * y) AS BIGINT) AS s1y,
          CAST(SUM(x2 * y) AS BIGINT) AS s2y,
          CAST(SUM(y) AS BIGINT) AS sy
        FROM o),
      mads AS (SELECT
          CAST(SUM(ABS(m.n * o.x1 - m.s1)) AS BIGINT) AS mad1n,
          CAST(SUM(ABS(m.n * o.x2 - m.s2)) AS BIGINT) AS mad2n
        FROM o CROSS JOIN m),
      betas AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            - CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2) AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS b1,
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2)
            + CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS DOUBLE) AS b2
        FROM m)
      SELECT b.n, b.b1, b.b2,
        ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)) AS imp1,
        ABS(b.b2) * (CAST(md.mad2n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)) AS imp2,
        (ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE))) /
        ((ABS(b.b1) * (CAST(md.mad1n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE))) +
         (ABS(b.b2) * (CAST(md.mad2n AS DOUBLE) /
          CAST(b.n * b.n AS DOUBLE)))) AS share_year
      FROM betas b CROSS JOIN mads md"""),
    covers = Seq("ML-shapley-linear"))

  // ------------------------------------------------- pinball loss
  // Quantile-forecast evaluation: the train-period (≤1997) P50/P90
  // of order cents per segment forecast the test period (1998+),
  // scored by pinball loss. Both losses stay integral in scaled
  // units (2× for τ=.5, 10× for τ=.9: 9(y−q) / 1(q−y)), so the sums
  // are exact and each mean is one division. The asymmetric loss
  // that actually validates a P90 service-level promise.
  private val q476 = QueryDef(
    "q476_pinball_loss",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"), cents.as("y"),
          (year(to_date(col("o_orderdate"))) <= 1997).as("is_train"))
      val qs = o.filter(col("is_train")).groupBy("segment")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)")
          .cast(LongType).as("q50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)")
            .cast(LongType).as("q90"))
      o.filter(!col("is_train"))
        .join(broadcast(qs), Seq("segment"))
        .groupBy("segment", "q50", "q90")
        .agg(count(lit(1)).as("n_test"),
          sum(abs(col("y") - col("q50"))).as("l50x2"),
          sum(when(col("y") >= col("q90"),
            lit(9L) * (col("y") - col("q90")))
            .otherwise(col("q90") - col("y"))).as("l90x10"))
        .select(col("segment"), col("n_test"), col("q50"), col("q90"),
          (col("l50x2").cast("double") /
            (lit(2L) * col("n_test")).cast("double")).as("pinball50"),
          (col("l90x10").cast("double") /
            (lit(10L) * col("n_test")).cast("double")).as("pinball90"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          (year(CAST(o.o_orderdate AS DATE)) <= 1997) AS is_train
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      qs AS (SELECT segment,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY y)
            AS BIGINT) AS q50,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY y)
            AS BIGINT) AS q90
        FROM o WHERE is_train GROUP BY segment)
      SELECT o.segment, CAST(COUNT(*) AS BIGINT) AS n_test,
        q.q50, q.q90,
        CAST(SUM(ABS(o.y - q.q50)) AS DOUBLE) /
          CAST(2 * COUNT(*) AS DOUBLE) AS pinball50,
        CAST(SUM(CASE WHEN o.y >= q.q90 THEN 9 * (o.y - q.q90)
          ELSE q.q90 - o.y END) AS DOUBLE) /
          CAST(10 * COUNT(*) AS DOUBLE) AS pinball90
      FROM o JOIN qs q ON q.segment = o.segment
      WHERE NOT o.is_train
      GROUP BY o.segment, q.q50, q.q90 ORDER BY o.segment"""),
    covers = Seq("ML-pinball-loss"))

  val all: Seq[QueryDef] = Seq(q472, q473, q474, q475, q476)
}
