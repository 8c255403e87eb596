package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

import graft.Tables.{load => t}
import graft.functions.Kmv

import QueryDef.{cents, d4ToDouble, dec, dec38, rev}

/** Classical statistics, time series, sampling, sketches, data quality,
  * privacy and causal-inference gates.
  *
  * Exactness pattern: every statistic is a SHORT, FIXED expression
  * tree of correctly-rounded IEEE ops (+,−,×,÷,sqrt) over exact
  * DECIMAL/BIGINT aggregates, with group terms pivoted into columns so
  * no float summation order is data-dependent. Both engines therefore
  * agree bit-for-bit and the gate hash-matches.
  */
object StatisticsGates {

  // ------------------------------------------------------------ hash sampling
  // Deterministic ~1/8 sample by key hash — the reproducible sampling
  // a training pipeline needs (TABLESAMPLE/rand() differ per engine
  // and per run; a hash threshold is identical everywhere forever).
  private val q54 = QueryDef(
    "q54_hash_sample",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "20")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sampled_total"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH s AS (
        SELECT * FROM orders WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20')
      SELECT o_orderstatus,
        CAST(COUNT(*) AS BIGINT) AS n_sampled,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total
      FROM s GROUP BY 1 ORDER BY 1"""),
    covers = Seq("SAMPLE-hash"))

  // ------------------------------------------------------------ class rebalancing
  // Training-corpus class balancing: every language downsampled to the
  // minority class's size, selection DETERMINISTIC (rank by key hash,
  // not rand()) so the balanced corpus is identical on every run and
  // engine — reproducible dataset curation, q54's per-stratum sibling.
  private val q69 = QueryDef(
    "q69_class_balance",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val ranked = d.select(col("doc_id"), col("lang"),
        row_number().over(w).as("rk"))
      val minCount = d.groupBy("lang").count()
        .agg(min(col("count")).as("m"))
      ranked.crossJoin(broadcast(minCount))
        .filter(col("rk") <= col("m"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy("lang")
    },
    Some("""WITH ranked AS (
        SELECT doc_id, lang,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents),
      mn AS (SELECT CAST(MIN(c) AS BIGINT) AS m
             FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)),
      bal AS (SELECT doc_id, lang FROM ranked CROSS JOIN mn WHERE rk <= m)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      FROM bal GROUP BY lang ORDER BY lang"""),
    covers = Seq("SAMPLE-balance"))

  // ------------------------------------------------------------ gap interpolation
  // Linear interpolation of masked points in a daily series: carry
  // (last non-null value, its day) forward and (next, its day)
  // backward with IGNORE NULLS window frames, then one shared IEEE
  // tree for the lerp — identical in both engines bit for bit. The
  // window is over the AGGREGATED series (thousands of rows at any
  // data scale), not raw events, so the single partition is fine.
  private val q83 = QueryDef(
    "q83_interpolate",
    (s, dir) => {
      val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
      val daily = t(s, dir, "orders")
        .groupBy(day.as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("s"))
        .select(col("day"),
          when(col("day") % 5 =!= 0, col("s").cast("double")).as("v"))
      val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
      val marked = daily.select(
        col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wPrev).as("pd"),
        first(col("v"), ignoreNulls = true).over(wNext).as("nv"),
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
          .over(wNext).as("nd"))
      marked.select(
          col("day"),
          coalesce(
            col("v"),
            col("pv") + (col("nv") - col("pv")) * (col("day") - col("pd")) /
              (col("nd") - col("pd")),
            col("pv"), col("nv")).as("filled"),
          col("v").isNull.as("was_gap"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
          CASE WHEN (epoch_us(o_orderdate) // 86400000000) % 5 <> 0
               THEN CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) END AS v
        FROM orders GROUP BY 1),
      marked AS (
        SELECT day, v,
          last_value(v IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
          first_value(v IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
            (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM daily)
      SELECT day,
        coalesce(v, pv + (nv - pv) * (day - pd) / (nd - pd), pv, nv) AS filled,
        (v IS NULL) AS was_gap
      FROM marked ORDER BY day"""),
    covers = Seq("TS-interpolate"))

  // ------------------------------------------------------------ column profiling
  // Data-quality profile — null count, distinct count, min/max per
  // column — in TWO passes over the table, then stack() pivots the
  // metrics row into a report. The per-column-scan UNION the oracle
  // runs is exactly what this avoids at 100 TB. Two passes, not one,
  // on purpose: min/max of STRING columns carry variable-width
  // aggregation buffers, which HashAggregate can't hold — folding
  // them into the multi-count-distinct aggregate demotes the whole
  // Expand (rows × #distinct-cols) to SortAggregate, paying two full
  // sorts of the expanded data (measured 4-5× slower). Kept apart,
  // the distinct+null pass stays a hash aggregate over the Expand and
  // the min/max pass is a grouping-free single scan (SortAggregate
  // with no keys needs no sort); the two 1-row results cross-join
  // for free.
  private val q88 = QueryDef(
    "q88_profile",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("status_nf", expr("nullif(o_orderstatus, 'F')"))
      def cnts(c: Column, i: Int) = Seq(
        sum(when(c.isNull, 1).otherwise(0)).as(s"nu_$i"),
        countDistinct(c).as(s"nd_$i"))
      def mm(c: Column, i: Int) = Seq(
        min(c).cast("string").as(s"mn_$i"),
        max(c).cast("string").as(s"mx_$i"))
      val cntAggs =
        cnts(col("o_orderkey"), 0) ++ cnts(col("o_orderstatus"), 1) ++
          cnts(col("status_nf"), 2) ++ cnts(col("o_totalprice"), 3)
      val mmAggs =
        mm(col("o_orderkey"), 0) ++ mm(col("o_orderstatus"), 1) ++
          mm(col("status_nf"), 2) ++
          mm(dec(col("o_totalprice")), 3)
      o.agg(cntAggs.head, cntAggs.tail: _*)
        .crossJoin(o.agg(mmAggs.head, mmAggs.tail: _*))
        .selectExpr("""stack(4,
            'o_orderkey',    nu_0, nd_0, mn_0, mx_0,
            'o_orderstatus', nu_1, nd_1, mn_1, mx_1,
            'status_nf',     nu_2, nd_2, mn_2, mx_2,
            'o_totalprice',  nu_3, nd_3, mn_3, mx_3)
          as (col_name, n_nulls, n_distinct, min_s, max_s)""")
        .orderBy("col_name")
    },
    Some("""WITH o AS (SELECT *, NULLIF(o_orderstatus, 'F') AS status_nf FROM orders)
      SELECT 'o_orderkey' AS col_name,
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM o
      UNION ALL
      SELECT 'o_orderstatus',
        CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
        CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM o
      UNION ALL
      SELECT 'status_nf',
        CAST(SUM(CASE WHEN status_nf IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT status_nf) AS BIGINT),
        CAST(MIN(status_nf) AS VARCHAR), CAST(MAX(status_nf) AS VARCHAR) FROM o
      UNION ALL
      SELECT 'o_totalprice',
        CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
        CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) FROM o
      ORDER BY col_name"""),
    covers = Seq("QA-profile"))

  // ------------------------------------------- deterministic stratified split
  // Hash-stratified train/val/test split (~80/10/10 on the first md5
  // byte) — the reproducible split every training pipeline needs:
  // membership depends only on the key, so re-runs, late data, and
  // distributed execution all land rows in the same bucket. Gate
  // checks per-(class, split) counts and mass.
  private val q142 = QueryDef(
    "q142_stratified_split",
    (s, dir) => {
      val h = substring(md5(col("o_orderkey").cast("string")), 1, 2)
      t(s, dir, "orders")
        .withColumn("split",
          when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
        .groupBy("o_orderpriority", "split")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("mass"))
        .orderBy("o_orderpriority", "split")
    },
    Some("""WITH s AS (
        SELECT o_orderpriority, o_totalprice, CASE
          WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
          WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
          ELSE 'test' END AS split
        FROM orders)
      SELECT o_orderpriority, split, CAST(count(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
      FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("SAMPLE-stratified"))

  // ------------------------------------------------- key-skew diagnostics
  // Hot-key detector — per-key cardinality, share of total, and skew
  // factor (share × #keys; 1.0 = perfectly uniform). This is the
  // measurement step that decides WHEN operators/SkewJoin's salting
  // is worth its extra shuffle: at 100 TB you profile key skew on a
  // sample before picking the join strategy, not after the straggler
  // task appears. Shares are single divisions of exact counts.
  private val q143 = QueryDef(
    "q143_skew_stats",
    (s, dir) => {
      val k = t(s, dir, "lineitem").groupBy("l_suppkey").agg(count(lit(1)).as("c"))
      val tot = k.agg(sum("c").as("t"), count(lit(1)).as("nk"))
      k.crossJoin(broadcast(tot))
        .select(col("l_suppkey"), col("c"),
          (col("c").cast("double") / col("t")).as("share"),
          (col("c").cast("double") * col("nk") / col("t")).as("skew_factor"))
        .orderBy(col("c").desc, col("l_suppkey"))
        .limit(10)
    },
    Some("""WITH k AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) c FROM lineitem GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) t, CAST(count(*) AS BIGINT) nk FROM k)
      SELECT l_suppkey, c,
        CAST(c AS DOUBLE) / t AS share,
        CAST(c AS DOUBLE) * nk / t AS skew_factor
      FROM k, tot
      ORDER BY c DESC, l_suppkey LIMIT 10"""),
    covers = Seq("QA-skew"))

  // --------------------------------------- count-min heavy hitters
  // The frequency member of the engine's mergeable-sketch family
  // (Bloom: membership, HLL: distinct, MinHash: similarity — CMS:
  // counts): ONE pass builds the sketch (partials merge associatively
  // across partitions, so the build is shuffle-free until the final
  // combine), then the candidate terms probe it via the native
  // [[graft.functions.CmsEstimate]] expression. At 100 TB the exact
  // per-term count requires a full groupBy shuffle; the sketch answers
  // "how often does THIS term occur" from kilobytes of state. Exact
  // counts ride along so the gate enforces the estimate-vs-exact
  // contract IN the oracle: CMS never undercounts (cms_n ≥ exact_n,
  // structural) and overcounts by at most eps·N with the sketch's
  // confidence (N = total token count — exact, both engines compute
  // it). The sketch binary itself can't hash-match DuckDB, but these
  // two flags can, and the seed makes them deterministic; the
  // estimate column is replaced by the bound flags the oracle pins
  // to 1 (the raw estimate remains covered by CmsSketchSpec).
  private val q160 = QueryDef(
    "q160_cms_heavy_hitters",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
      val sketch = tok.agg(expr("count_min_sketch(w, 0.0001d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n_total"))
      val top = tok.groupBy("w").agg(count(lit(1)).as("exact_n"))
        .orderBy(desc("exact_n"), col("w")).limit(20)
      top.crossJoin(broadcast(sketch))
        .select(col("w"), col("exact_n"),
          graft.functions.CmsEstimate(col("sk"), col("w")).as("cms_n"),
          col("n_total"))
        .select(col("w"), col("exact_n"),
          (col("cms_n") >= col("exact_n")).cast("long").as("cms_ge_exact"),
          (col("cms_n").cast("double") <=
            col("exact_n") + col("n_total").cast("double") * 0.0001)
            .cast("long").as("cms_within_eps"))
        .orderBy(desc("exact_n"), col("w"))
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
          FROM documents),
      top AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM tok GROUP BY w ORDER BY exact_n DESC, w LIMIT 20)
      SELECT w, exact_n,
        CAST(1 AS BIGINT) AS cms_ge_exact,
        CAST(1 AS BIGINT) AS cms_within_eps
      FROM top ORDER BY exact_n DESC, w"""),
    covers = Seq("SKETCH-cms"))

  // --------------------------------------------- temperature mixing
  // Multi-source sampling weights at temperature alpha = 1/2:
  // w_i = n_i^alpha / Σ n_j^alpha — the standard upweighting of
  // small sources when mixing corpora. alpha = 1/2 keeps the power
  // inside correctly-rounded IEEE sqrt (a fractional pow() routes
  // through exp/ln, which no two libms round identically — the same
  // reason q158 avoids entropy). The Σ over sources folds an
  // ORDERED list sequentially on both engines (aggregate ↔
  // list_reduce), so even the 5-term double sum is bit-pinned.
  private val q195 = QueryDef(
    "q195_temperature_mix",
    (s, dir) => {
      val c = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w", sqrt(col("n").cast("double")))
      val tot = c.agg(aggregate(
        array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (acc, x) => acc + x("w")).as("tw"))
      c.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(org.apache.spark.sql.expressions.Window
              .partitionBy()).cast("double")).as("raw_share"),
          (col("w") / col("tw")).as("mix_weight"))
        .orderBy("source")
    },
    Some("""WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
        FROM documents GROUP BY 1),
      t AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS tw,
              CAST(SUM(n) AS BIGINT) AS tn FROM c)
      SELECT source, n,
        CAST(n AS DOUBLE) / CAST(tn AS DOUBLE) AS raw_share,
        w / tw AS mix_weight
      FROM c, t ORDER BY source"""),
    covers = Seq("SAMPLE-temperature"))

  // --------------------------------------------- chi-square independence
  // Is the corpus' language mix independent of its source? Pearson's
  // chi² over the FULL source × lang grid (absent cells count as
  // observed 0 — dropping them biases the statistic). The per-cell
  // term (o·N − rt·ct)² / (rt·ct·N) keeps numerator and denominator
  // exact DECIMAL integers — squaring o·N overflows a BIGINT at
  // corpus scale — with ONE division per cell; the cross-cell double
  // sum folds in (source, lang) order on both engines (Spark
  // aggregate over a sorted struct array ↔ DuckDB ordered
  // list_reduce, the q195 pattern), so even float addition order is
  // pinned. Cramér's V normalizes by the grid shape: ÷ and sqrt are
  // correctly rounded, hash-safe.
  private val q206 = QueryDef(
    "q206_chi_square",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val obs = d.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val grid = d.select("source").distinct()
        .crossJoin(d.select("lang").distinct())
      val rt = d.groupBy("source").agg(count(lit(1)).as("rt"))
      val ct = d.groupBy("lang").agg(count(lit(1)).as("ct"))
      val n = d.select(count(lit(1)).as("n"))
      val dec = "decimal(38,0)"
      val cells = grid
        .join(obs, Seq("source", "lang"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .join(rt, "source").join(ct, "lang").crossJoin(n)
        .withColumn("num",
          pow2(col("o").cast(dec) * col("n").cast(dec)
            - col("rt").cast(dec) * col("ct").cast(dec)))
        .withColumn("den",
          col("rt").cast(dec) * col("ct").cast(dec) * col("n").cast(dec))
        .withColumn("term", col("num").cast("double") / col("den").cast("double"))
      cells
        .agg(
          count(lit(1)).as("n_cells"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          aggregate(
            sort_array(collect_list(struct(col("source"), col("lang"), col("term")))),
            lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"),
          first(col("n")).as("n_docs"))
        .select(
          col("n_cells"),
          ((col("n_sources") - 1) * (col("n_langs") - 1)).as("dof"),
          col("chi2"),
          sqrt(col("chi2") / (col("n_docs") *
            least(col("n_sources") - 1, col("n_langs") - 1)).cast("double"))
            .as("cramers_v"))
    },
    Some("""WITH obs AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2),
      grid AS (SELECT s.source, l.lang
          FROM (SELECT DISTINCT source FROM documents) s,
               (SELECT DISTINCT lang FROM documents) l),
      rt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS rt FROM documents GROUP BY 1),
      ct AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ct FROM documents GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      cells AS (
        SELECT g.source, g.lang,
          CAST((COALESCE(o, 0)::HUGEINT * n::HUGEINT - rt::HUGEINT * ct::HUGEINT)
            * (COALESCE(o, 0)::HUGEINT * n::HUGEINT - rt::HUGEINT * ct::HUGEINT)
            AS DOUBLE)
          / CAST(rt::HUGEINT * ct::HUGEINT * n::HUGEINT AS DOUBLE) AS term
        FROM grid g
        LEFT JOIN obs USING (source, lang)
        JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST((COUNT(DISTINCT source) - 1) * (COUNT(DISTINCT lang) - 1) AS BIGINT) AS dof,
        list_reduce(list(term ORDER BY source, lang), (a, b) -> a + b) AS chi2,
        sqrt(list_reduce(list(term ORDER BY source, lang), (a, b) -> a + b)
          / CAST((SELECT n FROM n)
            * LEAST(COUNT(DISTINCT source) - 1, COUNT(DISTINCT lang) - 1) AS DOUBLE))
          AS cramers_v
      FROM cells"""),
    covers = Seq("STAT-chi-square"))

  private def pow2(c: Column): Column = c * c

  // --------------------------------------------- rank-sum AUC
  // Mann-Whitney AUC of "does embedding dim 1 separate label L from
  // the rest", one-vs-rest per label — the eval metric behind every
  // quality-classifier gate in a curation loop. Exact: ties
  // contribute ½ via doubled average ranks (2·r̄ = 2·rank + ties − 1,
  // integers end-to-end), AUC = (2R − n_pos(n_pos+1)) / (2·n_pos·n_neg)
  // as ONE division of exact BIGINTs. The global score ranking is a
  // single window sort here; at 100 TB rank() range-partitions by
  // score with per-partition offsets (the q159 equi-depth shape) —
  // the integer arithmetic is unchanged.
  private val q207 = QueryDef(
    "q207_auc_ranksum",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val wr = Window.orderBy("score")
      val wt = Window.partitionBy("score")
      val ranked = e
        .withColumn("rk", rank().over(wr).cast("long"))
        .withColumn("ties", count(lit(1)).over(wt))
        .withColumn("r2", lit(2L) * col("rk") + col("ties") - 1L)
      val n = ranked.select(count(lit(1)).as("n_all"))
      ranked.groupBy("label")
        .agg(count(lit(1)).as("n_pos"), sum(col("r2")).as("r2sum"))
        .crossJoin(n)
        .select(col("label"), col("n_pos"),
          ((col("r2sum") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2L) * col("n_pos") * (col("n_all") - col("n_pos"))).cast("double"))
            .as("auc"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
      ranked AS (
        SELECT label,
          2 * RANK() OVER (ORDER BY score) + COUNT(*) OVER (PARTITION BY score) - 1 AS r2
        FROM e),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM e)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pos,
        CAST(CAST(SUM(r2) AS BIGINT) - COUNT(*) * (COUNT(*) + 1) AS DOUBLE)
          / CAST(2 * COUNT(*) * (n_all - COUNT(*)) AS DOUBLE) AS auc
      FROM ranked CROSS JOIN n
      GROUP BY label, n_all ORDER BY label"""),
    covers = Seq("STAT-auc"))

  // --------------------------------------------- Kolmogorov-Smirnov
  // Two-sample KS distance between the dim-1 score distributions of
  // even- and odd-labeled vectors — the drift test between two
  // corpus slices. Exact to the last bit: the ECDF gap at a point is
  // |cumA/nA − cumB/nB| = |cumA·nB − cumB·nA| / (nA·nB), so the
  // maximum is found over cross-multiplied INTEGERS (no float
  // compare ever decides the argmax) and divided once at the end.
  // One distinct-score aggregate, one ordered window — at 100 TB the
  // cumulative sums range-partition by score like any global rank.
  private val q208 = QueryDef(
    "q208_ks_statistic",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select((col("label") % 2).as("g"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val per = e.groupBy("score")
        .agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("cb"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = per
        .withColumn("cum_a", sum(col("ca")).over(w))
        .withColumn("cum_b", sum(col("cb")).over(w))
      val ns = e.agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("nb"))
      cum.crossJoin(ns)
        .select(col("na"), col("nb"),
          abs(col("cum_a") * col("nb") - col("cum_b") * col("na")).as("gap"))
        .groupBy("na", "nb")
        .agg(max(col("gap")).as("ks_num"))
        .select(col("na"), col("nb"), col("ks_num"),
          (col("ks_num").cast("double") / (col("na") * col("nb")).cast("double"))
            .as("ks"))
    },
    Some("""WITH e AS (
        SELECT label % 2 AS g, CAST(embedding[1] AS DOUBLE) AS score FROM embeddings),
      per AS (
        SELECT score,
          CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM e GROUP BY score),
      cum AS (
        SELECT
          CAST(SUM(ca) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
          CAST(SUM(cb) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        FROM per),
      ns AS (SELECT
          CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
          CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM e)
      SELECT na, nb,
        CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS BIGINT) AS ks_num,
        CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS DOUBLE)
          / CAST(na * nb AS DOUBLE) AS ks
      FROM cum CROSS JOIN ns
      GROUP BY na, nb"""),
    covers = Seq("STAT-ks"))

  // --------------------------------------------- Cohen's kappa
  // Chance-corrected agreement between the declared `lang` column and
  // q26's heuristic language identifier — the inter-annotator metric
  // for deciding whether a cheap labeler can replace an expensive
  // one. κ = (agree·n − Σ_c rowₙ(c)·colₙ(c)) / (n² − Σ_c rowₙ(c)·colₙ(c)):
  // both numerator and denominator are exact BIGINT bilinears of
  // marginal counts, so κ is ONE division of integers. The heuristic
  // 'unknown' class has zero row-marginal and drops out of the
  // chance term by itself.
  private val q209 = QueryDef(
    "q209_cohens_kappa",
    (s, dir) => {
      val padded = concat(lit(" "), lower(col("text")), lit(" "))
      def has(words: String*): Column =
        words.map(w => padded.contains(s" $w ")).reduce(_ || _)
      val pred = when(has("der", "und", "nicht", "das"), "de")
        .when(has("el", "los", "las", "una"), "es")
        .when(has("le", "les", "des", "une"), "fr")
        .when(has("de", "het", "een", "niet"), "nl")
        .when(has("the", "and", "of", "is"), "en")
        .otherwise("unknown")
      val d = t(s, dir, "documents").select(col("lang"), pred.as("pred_lang"))
      val ra = d.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("ra"))
      val rb = d.groupBy(col("pred_lang").as("cls")).agg(count(lit(1)).as("rb"))
      val pe = ra.join(rb, "cls")
        .agg(sum(col("ra") * col("rb")).as("pe_num"))
      d.agg(
          count(lit(1)).as("n"),
          sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L)).as("agree"))
        .crossJoin(pe)
        .select(col("n"), col("agree"), col("pe_num"),
          ((col("agree") * col("n") - col("pe_num")).cast("double") /
            (col("n") * col("n") - col("pe_num")).cast("double")).as("kappa"))
    },
    Some {
      def has(words: Seq[String]): String =
        words.map(w => s"contains(' ' || lower(text) || ' ', ' $w ')")
          .mkString("(", " OR ", ")")
      s"""WITH d AS (
        SELECT lang,
          CASE WHEN ${has(Seq("der", "und", "nicht", "das"))} THEN 'de'
               WHEN ${has(Seq("el", "los", "las", "una"))} THEN 'es'
               WHEN ${has(Seq("le", "les", "des", "une"))} THEN 'fr'
               WHEN ${has(Seq("de", "het", "een", "niet"))} THEN 'nl'
               WHEN ${has(Seq("the", "and", "of", "is"))} THEN 'en'
               ELSE 'unknown' END AS pred_lang
        FROM documents),
      ra AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS ra FROM d GROUP BY 1),
      rb AS (SELECT pred_lang AS cls, CAST(COUNT(*) AS BIGINT) AS rb FROM d GROUP BY 1),
      pe AS (SELECT CAST(SUM(ra * rb) AS BIGINT) AS pe_num FROM ra JOIN rb USING (cls))
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        pe_num,
        CAST(SUM(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END) * COUNT(*) - pe_num AS DOUBLE)
          / CAST(COUNT(*) * COUNT(*) - pe_num AS DOUBLE) AS kappa
      FROM d CROSS JOIN pe
      GROUP BY pe_num"""
    },
    covers = Seq("STAT-kappa"))

  // ------------------------------------- precision/recall/F1 sweep
  // Classifier operating-point sweep: precision, recall and F1 of
  // "dim-1 score ≥ t ⇒ even label" at each decile threshold of the
  // score distribution. Thresholds are EXACT order statistics
  // (row_number = ceil(q·n), q164's integer arithmetic — no
  // interpolated floats), the 9-row threshold table broadcasts into
  // a bounded 9× fan-out, and every metric is ONE division of exact
  // integer confusion counts. The full sweep is a single corpus scan
  // + one keyed aggregate — not 9 passes.
  private val q210 = QueryDef(
    "q210_pr_f1_sweep",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select((col("label") % 2 === 0).as("pos"),
          element_at(col("embedding"), 1).cast("double").as("score"))
      val n = e.count()
      val ranked = e.select(col("score"))
        .withColumn("rn", row_number().over(Window.orderBy("score", "score")))
      val thresholds = ranked
        .join(
          s.range(1, 10).select(col("id").as("decile"),
            ceil(col("id") * n / 10.0).cast("long").as("rn")),
          "rn")
        .select(col("decile"), col("score").as("t"))
      e.crossJoin(broadcast(thresholds))
        .groupBy("decile", "t")
        .agg(
          sum(when(col("score") >= col("t") && col("pos"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("score") >= col("t") && !col("pos"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("score") < col("t") && col("pos"), 1L).otherwise(0L)).as("fn"))
        .select(col("decile"), col("tp"), col("fp"), col("fn"),
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision"),
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
            .as("recall"),
          ((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")).as("f1"))
        .orderBy("decile")
    },
    Some("""WITH e AS (
        SELECT label % 2 = 0 AS pos, CAST(embedding[1] AS DOUBLE) AS score
        FROM embeddings),
      ranked AS (
        SELECT score, row_number() OVER (ORDER BY score, score) AS rn FROM e),
      n AS (SELECT COUNT(*) AS n FROM e),
      thresholds AS (
        SELECT d.decile, r.score AS t
        FROM (SELECT unnest(generate_series(1, 9)) AS decile) d
        JOIN n ON TRUE
        JOIN ranked r ON r.rn = CAST(CEIL(d.decile * n / 10.0) AS BIGINT)),
      cm AS (
        SELECT decile, t,
          CAST(SUM(CASE WHEN score >= t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(SUM(CASE WHEN score >= t AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(SUM(CASE WHEN score < t AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM e CROSS JOIN thresholds GROUP BY decile, t)
      SELECT decile, tp, fp, fn,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
      FROM cm ORDER BY decile"""),
    covers = Seq("STAT-pr-f1"))

  // ------------------------------------------- interpolated percentiles
  // PERCENTILE_CONT(k/4) per priority class WITHOUT trusting either
  // engine's native interpolation internals: the index splits as
  // h = (n−1)·k = 4·lo + rem in INTEGERS, the two bracketing order
  // statistics are picked by row_number, and the interpolation
  // v_lo + (v_hi − v_lo)·rem/4 runs the identical IEEE tree on both
  // engines over exact cent values (q50/q164 gate the discrete
  // variants). One window pass + one aggregate; no per-quantile scan.
  private val q214 = QueryDef(
    "q214_percentile_cont",
    (s, dir) => {
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
      val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      val ranked = t(s, dir, "orders")
        .select(col("o_orderpriority"), cents.as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderpriority")))
      def pick(k: Int): Seq[org.apache.spark.sql.Column] = {
        val lo = expr(s"((n - 1) * $k) div 4")
        val rem = ((col("n") - 1) * k) % 4
        Seq(
          max(when(col("rn") === lo + 1, col("cents"))).as(s"vlo_$k"),
          max(when(col("rn") === lo + 2, col("cents"))).as(s"vhi_$k"),
          max(rem).as(s"rem_$k"))
      }
      def interp(k: Int): org.apache.spark.sql.Column = {
        val vlo = col(s"vlo_$k").cast("double")
        val vhi = coalesce(col(s"vhi_$k"), col(s"vlo_$k")).cast("double")
        ((vlo + (vhi - vlo) * col(s"rem_$k").cast("double") / 4.0) / 100.0)
          .as(s"p${k * 25}")
      }
      ranked.groupBy("o_orderpriority")
        .agg((pick(1) ++ pick(2) ++ pick(3)).head,
          (pick(1) ++ pick(2) ++ pick(3)).tail: _*)
        .select(col("o_orderpriority") +: (1 to 3).map(interp): _*)
        .orderBy("o_orderpriority")
    },
    Some("""WITH ranked AS (
        SELECT o_orderpriority,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rn,
          COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders),
      agg AS (
        SELECT o_orderpriority,
          MAX(CASE WHEN rn = (n-1) * 1 // 4 + 1 THEN cents END) AS vlo_1,
          MAX(CASE WHEN rn = (n-1) * 1 // 4 + 2 THEN cents END) AS vhi_1,
          MAX((n-1) * 1 % 4) AS rem_1,
          MAX(CASE WHEN rn = (n-1) * 2 // 4 + 1 THEN cents END) AS vlo_2,
          MAX(CASE WHEN rn = (n-1) * 2 // 4 + 2 THEN cents END) AS vhi_2,
          MAX((n-1) * 2 % 4) AS rem_2,
          MAX(CASE WHEN rn = (n-1) * 3 // 4 + 1 THEN cents END) AS vlo_3,
          MAX(CASE WHEN rn = (n-1) * 3 // 4 + 2 THEN cents END) AS vhi_3,
          MAX((n-1) * 3 % 4) AS rem_3
        FROM ranked GROUP BY o_orderpriority)
      SELECT o_orderpriority,
        (CAST(vlo_1 AS DOUBLE) + (CAST(COALESCE(vhi_1, vlo_1) AS DOUBLE)
          - CAST(vlo_1 AS DOUBLE)) * CAST(rem_1 AS DOUBLE) / 4.0) / 100.0 AS p25,
        (CAST(vlo_2 AS DOUBLE) + (CAST(COALESCE(vhi_2, vlo_2) AS DOUBLE)
          - CAST(vlo_2 AS DOUBLE)) * CAST(rem_2 AS DOUBLE) / 4.0) / 100.0 AS p50,
        (CAST(vlo_3 AS DOUBLE) + (CAST(COALESCE(vhi_3, vlo_3) AS DOUBLE)
          - CAST(vlo_3 AS DOUBLE)) * CAST(rem_3 AS DOUBLE) / 4.0) / 100.0 AS p75
      FROM agg ORDER BY o_orderpriority"""),
    covers = Seq("STAT-percentile-cont"))

  // ------------------------------------------- sequence gap detection
  // Completeness QA for an id-keyed feed: which order-key ranges are
  // missing per 4096-wide page? Gaps surface from ONE lag window over
  // the sorted distinct keys — lead-minus-current > 1 marks a hole
  // with exact integer bounds — never from a generate_series
  // anti-join, whose spine is O(key range) instead of O(rows).
  // doc_id-keyed tables gate the same shape via q183's date spine.
  private val q218 = QueryDef(
    "q218_sequence_gaps",
    (s, dir) => {
      // the open-status feed: a non-contiguous key subset, so holes
      // actually occur at every scale
      val keys = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O")
        .select((col("o_orderkey") % 65536).as("k")).distinct()
      val w = Window.orderBy("k")
      keys
        .withColumn("nxt", lead(col("k"), 1).over(w))
        .filter(col("nxt") - col("k") > 1)
        .select(
          (col("k") + 1).as("gap_start"),
          (col("nxt") - 1).as("gap_end"),
          (col("nxt") - col("k") - 1).as("gap_len"))
        .orderBy("gap_start")
    },
    Some("""WITH keys AS (SELECT DISTINCT o_orderkey % 65536 AS k FROM orders
        WHERE o_orderstatus = 'O'),
      g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM keys)
      SELECT k + 1 AS gap_start, nxt - 1 AS gap_end, nxt - k - 1 AS gap_len
      FROM g WHERE nxt - k > 1 ORDER BY gap_start"""),
    covers = Seq("QA-sequence-gaps"))

  // ----------------------------------------------- Welch's t-test
  // Unequal-variance two-sample t between returned ('R') and accepted
  // ('A') line prices. One conditional aggregate produces both
  // groups' (n, Σx, Σx²) — sums exact in DECIMAL, surfaced to double
  // via [[d4ToDouble]] — then mean/variance/t/df come from one shared IEEE
  // tree: m=s/n, v=(q−s²/n)/(n−1), t=(m1−m2)/√(v1/n1+v2/n2), Welch–
  // Satterthwaite df. Single scan, single-row reduce — at 100 TB this
  // is a map-side-combined O(1)-state aggregate.
  private val q228 = QueryDef(
    "q228_welch_ttest",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      def side(flag: String, p: String) = Seq(
        sum(when(col("l_returnflag") === flag, 1L).otherwise(0L)).as(s"n$p"),
        sum(when(col("l_returnflag") === flag, dec(col("l_extendedprice"))))
          .cast("double").as(s"s$p"),
        d4ToDouble(sum(when(col("l_returnflag") === flag,
          dec(col("l_extendedprice")) * dec(col("l_extendedprice")))))
          .as(s"q$p"))
      val aggs = side("R", "1") ++ side("A", "2")
      val st = l.agg(aggs.head, aggs.tail: _*)
      val (n1, s1, q1) = (col("n1").cast("double"), col("s1"), col("q1"))
      val (n2, s2, q2) = (col("n2").cast("double"), col("s2"), col("q2"))
      val m1 = s1 / n1
      val m2 = s2 / n2
      val v1 = (q1 - s1 * s1 / n1) / (n1 - lit(1.0d))
      val v2 = (q2 - s2 * s2 / n2) / (n2 - lit(1.0d))
      val se1 = v1 / n1
      val se2 = v2 / n2
      val tStat = (m1 - m2) / sqrt(se1 + se2)
      val df = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (n1 - lit(1.0d)) + se2 * se2 / (n2 - lit(1.0d)))
      st.select(col("n1"), col("n2"), m1.as("mean_r"), m2.as("mean_a"),
        tStat.as("t_stat"), df.as("welch_df"))
    },
    Some("""WITH g AS (SELECT
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN l_returnflag = 'R'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN l_returnflag = 'R'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q1,
        CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN l_returnflag = 'A'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN l_returnflag = 'A'
          THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q2
      FROM lineitem)
      SELECT n1, n2,
        s1 / CAST(n1 AS DOUBLE) AS mean_r,
        s2 / CAST(n2 AS DOUBLE) AS mean_a,
        (s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE)) /
          sqrt(((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
                 / CAST(n1 AS DOUBLE)
             + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
                 / CAST(n2 AS DOUBLE)) AS t_stat,
        (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)
         + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) *
        (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)
         + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) /
        ((((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)) *
         (((q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1))
            / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1)
         + (((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) *
           (((q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1))
            / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)) AS welch_df
      FROM g"""),
    covers = Seq("STAT-welch-t"))

  // ----------------------------------------------- one-way ANOVA F
  // Does order priority move order value? F = (SSB/(k−1))/(SSW/(N−k))
  // over the 5 priority groups. The 5 per-group (n, Σx) pairs pivot
  // into columns of ONE aggregate row; SSB/SSW then come from a fixed
  // left-to-right float tree (group order hard-coded, never
  // data-dependent), with Σx² shared for the total sum of squares.
  private val q229 = QueryDef(
    "q229_anova_f",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val flags = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val aggs = flags.zipWithIndex.flatMap { case (f, i) =>
        Seq(
          sum(when(col("o_orderpriority") === f, 1L).otherwise(0L)).as(s"n$i"),
          sum(when(col("o_orderpriority") === f, dec(col("o_totalprice"))))
            .cast("double").as(s"s$i"))
      } :+ d4ToDouble(sum(dec(col("o_totalprice")) * dec(col("o_totalprice"))))
        .as("qq")
      val st = o.agg(aggs.head, aggs.tail: _*)
      def nD(i: Int) = col(s"n$i").cast("double")
      def sD(i: Int) = col(s"s$i")
      // fixed fold order: ((((g0 + g1) + g2) + g3) + g4)
      val groupSq = (0 until 5).map(i => sD(i) * sD(i) / nD(i)).reduceLeft(_ + _)
      val nTot = (0 until 5).map(nD).reduceLeft(_ + _)
      val sTot = (0 until 5).map(sD).reduceLeft(_ + _)
      val ssb = groupSq - sTot * sTot / nTot
      val ssw = col("qq") - groupSq
      val f = (ssb / lit(4.0d)) / (ssw / (nTot - lit(5.0d)))
      st.select(
        nTot.cast("long").as("n_total"), ssb.as("ss_between"),
        ssw.as("ss_within"), f.as("f_stat"))
    },
    Some("""WITH g AS (SELECT
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s0,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
        CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
        CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
        CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
        CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s3,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
        CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
          THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s4,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
                 CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS qq
      FROM orders)
      SELECT CAST(n0+n1+n2+n3+n4 AS BIGINT) AS n_total,
        ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          - (((((s0+s1)+s2)+s3)+s4) * ((((s0+s1)+s2)+s3)+s4))
            / ((((n0+n1)+n2)+n3)+n4) AS ss_between,
        qq - ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          AS ss_within,
        (((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4)
          - (((((s0+s1)+s2)+s3)+s4) * ((((s0+s1)+s2)+s3)+s4))
            / ((((n0+n1)+n2)+n3)+n4)) / 4 /
        ((qq - ((((s0*s0/n0 + s1*s1/n1) + s2*s2/n2) + s3*s3/n3) + s4*s4/n4))
          / (((((n0+n1)+n2)+n3)+n4) - 5)) AS f_stat
      FROM g"""),
    covers = Seq("STAT-anova-f"))

  // ------------------------------------------- Benford first digit
  // Data-QA screen: the distribution of first significant digits of
  // order totals (fabricated or truncated feeds deviate wildly from
  // Benford's curve). The digit comes from the decimal STRING of the
  // integer part — no log10, no float — so both engines bucket
  // identically; the share is one division.
  private val q231 = QueryDef(
    "q231_benford_digits",
    (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_totalprice") >= 1)
      o.select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .as("digit"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast("double") / sum(col("n")).over().cast("double"))
        .orderBy("digit")
    },
    Some("""WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
          AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice >= 1),
      g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit)
      SELECT digit, n,
        CAST(n AS DOUBLE) / CAST(CAST(SUM(n) OVER () AS BIGINT) AS DOUBLE) AS share
      FROM g ORDER BY digit"""),
    covers = Seq("QA-benford"))

  // ------------------------------------------- total-variation drift
  // Total-variation distance between each source's language
  // distribution and the corpus-wide one: TV = ½ Σ_l |p_l − q_l| —
  // the corpus-mix drift gauge whose units (fraction of mass that
  // must move) are directly actionable, complementing chi-square
  // (q206, significance) and KS (q208, continuous). Exact to the
  // last bit: over the common denominator n_s·N the summand is the
  // INTEGER |n_sl·N − N_l·n_s| — absent (source, lang) cells
  // contribute N_l·n_s via the dense grid join (q206's pattern) — and
  // the single division by 2·n_s·N happens once per source. Counts
  // aggregate map-side; the grid is |sources|×|langs|, dimension-
  // sized, so every join below it broadcasts at any corpus scale.
  private val q246 = QueryDef(
    "q246_tv_drift",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val cell = d.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
      val bySource = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val byLang = d.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val total = d.agg(count(lit(1)).as("n_tot"))
      val grid = bySource.crossJoin(broadcast(byLang))
        .join(cell, Seq("source", "lang"), "left")
        .na.fill(0L, Seq("n_sl"))
        .crossJoin(broadcast(total))
      grid
        .groupBy(col("source"), col("n_s"), col("n_tot"))
        .agg(sum(abs(col("n_sl") * col("n_tot") - col("n_l") * col("n_s")))
          .as("num"))
        .select(col("source"), col("n_s"),
          (col("num").cast("double") /
            (col("n_s") * col("n_tot") * 2).cast("double")).as("tv"))
        .orderBy("source")
    },
    Some("""WITH cell AS (SELECT source, lang, COUNT(*) AS n_sl
          FROM documents GROUP BY 1, 2),
      s AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
      l AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_tot FROM documents),
      grid AS (
        SELECT s.source, s.n_s, l.n_l, tot.n_tot,
               COALESCE(cell.n_sl, 0) AS n_sl
        FROM s CROSS JOIN l CROSS JOIN tot
        LEFT JOIN cell ON cell.source = s.source AND cell.lang = l.lang)
      SELECT source, CAST(n_s AS BIGINT) AS n_s,
        CAST(SUM(abs(n_sl * n_tot - n_l * n_s)) AS DOUBLE) /
          CAST(n_s * n_tot * 2 AS DOUBLE) AS tv
      FROM grid
      GROUP BY source, n_s, n_tot
      ORDER BY source"""),
    covers = Seq("QA-tv-drift"))

  // ------------------------------------------------- Spearman rank corr
  // Spearman rank correlation between daily order volume and daily
  // revenue, per year — the outlier-robust companion to Pearson
  // (q51/q241): correlate the RANKS, not the values. Ties get the
  // standard average rank, kept EXACT as twice-the-average-rank
  // (2·avg = 2·rank + tie_count − 1, an integer; Pearson is scale
  // invariant so the ×2 cancels). From there the q241 discipline:
  // all five moments are exact LONG sums of small integers (ranks ≤
  // 2·366), and the correlation emerges from ONE shared IEEE tree
  // over exactly-representable integers. The windows rank WITHIN a
  // year over the pre-aggregated daily grain (≤366 rows per
  // partition at any data scale).
  private val q260 = QueryDef(
    "q260_spearman",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"), sum(dec(col("o_totalprice"))).as("y"))
        .withColumn("yr", year(col("d")).cast("long"))
      val rx = rank().over(Window.partitionBy("yr").orderBy("x")).cast("long")
      val cx = count(lit(1)).over(Window.partitionBy("yr", "x"))
      val ry = rank().over(Window.partitionBy("yr").orderBy("y")).cast("long")
      val cy = count(lit(1)).over(Window.partitionBy("yr", "y"))
      val ranked = daily
        .withColumn("rx2", lit(2L) * rx + cx - 1L)
        .withColumn("ry2", lit(2L) * ry + cy - 1L)
      val g = ranked.groupBy("yr").agg(
        count(lit(1)).as("n"),
        sum(col("rx2")).as("sx"), sum(col("ry2")).as("sy"),
        sum(col("rx2") * col("rx2")).as("sxx"),
        sum(col("ry2") * col("ry2")).as("syy"),
        sum(col("rx2") * col("ry2")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den1 = col("n") * col("sxx") - col("sx") * col("sx")
      val den2 = col("n") * col("syy") - col("sy") * col("sy")
      g.filter(den1 > 0 && den2 > 0)
        .select(col("yr"), col("n").as("n_days"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
            .as("spearman"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
        FROM orders GROUP BY 1),
      yearly AS (SELECT *, CAST(EXTRACT(year FROM d) AS BIGINT) AS yr FROM daily),
      ranked AS (SELECT yr,
          2 * CAST(RANK() OVER (PARTITION BY yr ORDER BY x) AS BIGINT)
            + CAST(COUNT(*) OVER (PARTITION BY yr, x) AS BIGINT) - 1 AS rx2,
          2 * CAST(RANK() OVER (PARTITION BY yr ORDER BY y) AS BIGINT)
            + CAST(COUNT(*) OVER (PARTITION BY yr, y) AS BIGINT) - 1 AS ry2
        FROM yearly),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
          CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
          CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
          CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
        FROM ranked GROUP BY yr)
      SELECT yr, n AS n_days,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman
      FROM g
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      ORDER BY yr"""),
    covers = Seq("STAT-spearman"))

  // ------------------------------------------------- time-weighted avg
  // TWAP: each observation holds until the next one (or the end of
  // day), so the daily average weights every value by how long it was
  // current — the right mean for irregular telemetry, where the
  // arithmetic mean over-counts bursts. All arithmetic exact: values
  // as integer cents, durations as integer microseconds from
  // unix_micros (lead() with an end-of-day default), so the weighted
  // sum is a LONG (≤ 5·10¹⁵ < 2⁵³ — even the double cast is exact)
  // and the TWAP is one shared IEEE division tree. The lead() window
  // partitions by (user, day) — event-grain but perfectly parallel at
  // any scale.
  private val q263 = QueryDef(
    "q263_twap",
    (s, dir) => {
      val e = t(s, dir, "events")
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"), col("ts"),
          (dec(col("value")) * 100).cast("long").as("cents"),
          to_date(col("ts")).as("day"))
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      val endOfDay = unix_micros(date_add(col("day"), 1).cast("timestamp"))
      e.withColumn("dur_us",
          coalesce(lead(unix_micros(col("ts")), 1).over(w), endOfDay)
            - unix_micros(col("ts")))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents") * col("dur_us")).as("sw"),
          sum(col("dur_us")).as("sd"))
        .select(col("user_id"), col("day"), col("n_events"),
          (col("sw").cast("double") / col("sd").cast("double")
            / lit(100.0d)).as("twap"))
        .orderBy("user_id", "day")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
          CAST(ts AS DATE) AS day
        FROM events WHERE user_id % 10 = 0),
      d AS (SELECT *,
          COALESCE(LEAD(epoch_us(ts)) OVER (PARTITION BY user_id, day
                     ORDER BY ts, event_id),
                   epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
            - epoch_us(ts) AS dur_us
        FROM e)
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(cents * dur_us) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE)
          / CAST(100 AS DOUBLE) AS twap
      FROM d GROUP BY 1, 2 ORDER BY user_id, day"""),
    covers = Seq("TS-twap"))

  // ------------------------------------------------- k-anonymity audit
  // Privacy gate for training-data release: bucket documents by their
  // quasi-identifier tuple (lang, source, length-centile bucket) and
  // count how many docs sit in groups smaller than k=5 — those rows
  // re-identify and must be suppressed or generalized before the
  // corpus ships. Two cascaded exact-count aggregates (group sizes,
  // then per-(lang, source) suppression tallies) — map-side combined,
  // no joins, integer end to end. The same shape audits ANY release
  // k: only the `< 5` literal changes.
  private val q264 = QueryDef(
    "q264_k_anonymity",
    (s, dir) => {
      val groups = t(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("n"))
      groups.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_docs"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("suppressed_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("suppressed_docs"))
        .withColumn("kept_docs", col("n_docs") - col("suppressed_docs"))
        .orderBy("lang", "source")
    },
    Some("""WITH groups AS (
        SELECT lang, source, n_chars // 100 AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2, 3)
      SELECT lang, source,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS suppressed_groups,
        CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS suppressed_docs,
        CAST(SUM(n) AS BIGINT)
          - CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS kept_docs
      FROM groups GROUP BY 1, 2 ORDER BY lang, source"""),
    covers = Seq("PRIV-k-anon"))

  // ------------------------------------------------- autocorrelation
  // ACF of the daily order-count series at lags 1, 7 and 14 — THE
  // seasonality diagnostic (a lag-7 spike = weekly rhythm). Pairs
  // (t, t−lag) come from an equi-join of the daily aggregate with
  // itself per lag (explode of a 3-element lag array — no cartesian),
  // and each lag's Pearson runs on the q241 discipline: counts are
  // small integers, all five moments exact LONG sums, one shared IEEE
  // tree at the end. Integer counts keep every moment in range at ANY
  // scale factor (a daily count squares to ≤ ~10⁹ even at sf1000,
  // where cents-based revenue moments would overflow BIGINT).
  private val q266 = QueryDef(
    "q266_autocorrelation",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("ed",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        .select("ed", "x")
      val lagged = daily
        .select(col("ed"), col("x"),
          explode(array(lit(1L), lit(7L), lit(14L))).as("lag"))
        .withColumn("ed_prev", col("ed") - col("lag"))
      val pairs = lagged.join(
        daily.select(col("ed").as("ed_prev"), col("x").as("y")), "ed_prev")
      val g = pairs.groupBy("lag").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den1 = col("n") * col("sxx") - col("sx") * col("sx")
      val den2 = col("n") * col("syy") - col("sy") * col("sy")
      g.filter(den1 > 0 && den2 > 0)
        .select(col("lag"), col("n").as("n_pairs"),
          (num.cast("double") /
            (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
            .as("acf"))
        .orderBy("lag")
    },
    Some("""WITH daily AS (
        SELECT DATE_DIFF('day', DATE '1970-01-01',
                 CAST(o_orderdate AS DATE)) AS ed,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT l.lag, a.x, b.x AS y
        FROM daily a
        CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(7 AS BIGINT)),
                           (CAST(14 AS BIGINT))) l(lag)
        JOIN daily b ON b.ed = a.ed - l.lag),
      g AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy,
          CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY lag)
      SELECT lag, n AS n_pairs,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
      FROM g
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      ORDER BY lag"""),
    covers = Seq("TS-acf"))

  // ------------------------------------------------- dow anomalies
  // Seasonal-residual outliers: each day's order count against its
  // day-of-week baseline (the weekly rhythm q04 profiles), keeping the
  // 3 most anomalous days per weekday. The ranking key is the EXACT
  // integer numerator x·n − sx (residual × group size): comparable
  // within a dow partition, and never a float compare — the residual
  // itself is emitted as one double division at the end. Baseline
  // moments are per-dow exact sums over the pre-aggregated daily
  // grain.
  private val q268 = QueryDef(
    "q268_dow_anomalies",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", dayofweek(col("d")).cast("long"))
      val wDow = Window.partitionBy("dow")
      val scored = daily
        .withColumn("n", count(lit(1)).over(wDow))
        .withColumn("sx", sum(col("x")).over(wDow))
        .withColumn("num", col("x") * col("n") - col("sx"))
      val ranked = scored.withColumn("rk",
        row_number().over(Window.partitionBy("dow")
          .orderBy(abs(col("num")).desc, col("d").asc)))
      ranked.filter(col("rk") <= 3)
        .select(col("dow"), col("d"), col("x").as("orders"),
          (col("num").cast("double") / col("n").cast("double"))
            .as("residual"),
          col("rk").cast("long").as("rk"))
        .orderBy("dow", "rk")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      dowd AS (SELECT *, CAST(dayofweek(d) AS BIGINT) + 1 AS dow FROM daily),
      scored AS (SELECT *,
          CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n,
          CAST(SUM(x) OVER (PARTITION BY dow) AS BIGINT) AS sx
        FROM dowd),
      ranked AS (SELECT *, x * n - sx AS num,
          ROW_NUMBER() OVER (PARTITION BY dow
            ORDER BY abs(x * n - sx) DESC, d ASC) AS rk
        FROM scored)
      SELECT dow, d, x AS orders,
        CAST(num AS DOUBLE) / CAST(n AS DOUBLE) AS residual,
        rk
      FROM ranked WHERE rk <= 3 ORDER BY dow, rk"""),
    covers = Seq("TS-seasonal-residual"))

  // ------------------------------------------------- inter-arrival CV
  // Burstiness per user: the coefficient of variation of inter-event
  // gaps (CV ≈ 1 = Poisson, > 1 = bursty, < 1 = regular). Gaps are
  // integer SECONDS from lag() on unix_micros (µs div 10⁶ — q248's
  // pinned truncating div); a month of events bounds Σgap by the
  // month span, so with the moment products in DECIMAL(38,0) the
  // variance numerator n·Σx² − (Σx)² is exact at ANY event density.
  // One shared IEEE tree at the end: cv = √(num/(n(n−1))) · n / Σx.
  private val q272 = QueryDef(
    "q272_interarrival_cv",
    (s, dir) => {
      val d38 = DecimalType(38, 0)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s",
          expr("(unix_micros(ts) - prev_us) div 1000000"))
      val g = gaps.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(col("gap_s")).as("sx"),
        sum(col("gap_s") * col("gap_s")).as("sxx"))
      val num = (col("n").cast(d38) * col("sxx").cast(d38)) -
        (col("sx").cast(d38) * col("sx").cast(d38))
      g.filter(col("n") >= 2 && col("sx") > 0)
        .select(col("user_id"), col("n").as("n_gaps"),
          (col("sx").cast("double") / col("n").cast("double"))
            .as("mean_gap_s"),
          (sqrt(num.cast("double") /
            (col("n").cast("double") * (col("n") - 1L).cast("double")))
            * col("n").cast("double") / col("sx").cast("double")).as("cv"))
        .orderBy("user_id")
    },
    Some("""WITH gaps AS (
        SELECT user_id,
          (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY ts, event_id)) // 1000000 AS gap_s
        FROM events),
      g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(gap_s) AS BIGINT) AS sx,
          CAST(SUM(gap_s * gap_s) AS BIGINT) AS sxx
        FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1)
      SELECT user_id, n AS n_gaps,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_s,
        sqrt(CAST(n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
          * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE) AS cv
      FROM g WHERE n >= 2 AND sx > 0 ORDER BY user_id"""),
    covers = Seq("TS-burstiness"))

  // ------------------------------------------------- trimmed mean
  // 10%-trimmed mean of order value per priority: DROP the bottom and
  // top decile by rank and average the interior — the robust mean
  // that q146's winsorize approximates by clamping. Row selection is
  // by row_number over a TOTAL order (value, then orderkey), so the
  // kept SET is engine-independent even with duplicate values; the
  // interior mean is an exact DECIMAL sum over that set with one
  // final cast. Trim boundaries use the pinned integer `div`.
  private val q273 = QueryDef(
    "q273_trimmed_mean",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("p"),
          dec(col("o_totalprice")).as("x"),
          col("o_orderkey"))
      val w = Window.partitionBy("p").orderBy(col("x"), col("o_orderkey"))
      val ranked = o
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("p")))
      ranked
        .filter(col("i") > expr("n div 10") &&
          col("i") <= col("n") - expr("n div 10"))
        .groupBy("p")
        .agg(first(col("n")).as("n_total"),
          count(lit(1)).as("n_kept"),
          sum(col("x")).as("kept_sum"))
        .select(col("p"), col("n_total"), col("n_kept"),
          (col("kept_sum").cast("double") / col("n_kept").cast("double"))
            .as("trimmed_mean"))
        .orderBy("p")
    },
    Some("""WITH o AS (SELECT o_orderpriority AS p,
          CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey
        FROM orders),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY p ORDER BY x, o_orderkey)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n
        FROM o)
      SELECT p, MIN(n) AS n_total, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
      FROM ranked
      WHERE i > n // 10 AND i <= n - n // 10
      GROUP BY p ORDER BY p"""),
    covers = Seq("STAT-trimmed-mean"))

  private def daily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("x"),
        sum(dec(col("o_totalprice"))).as("y"))
      .withColumn("yr", year(col("d")).cast("long"))

  // ------------------------------------------------- Kendall tau-b
  // Concordance between daily volume and revenue per year: every day
  // pair votes concordant (both move the same way), discordant, or
  // tied, and tau-b normalizes by the tie-adjusted pair counts. All
  // counts are exact longs from integer/DECIMAL comparisons — no
  // ranks, no floats until the single closing tree
  // (C−D)/(√(n0−n1)·√(n0−n2)). The O(days²) self-join is bounded by
  // the DAILY grain (≤366 rows per year at any data scale), and
  // partitions by year.
  private val q274 = QueryDef(
    "q274_kendall_tau",
    (s, dir) => {
      val d = daily(s, dir)
      val a = d.select(col("yr"), col("d").as("d1"),
        col("x").as("x1"), col("y").as("y1"))
      val b = d.select(col("yr"), col("d").as("d2"),
        col("x").as("x2"), col("y").as("y2"))
      val pairs = a.join(b, Seq("yr")).filter(col("d1") < col("d2"))
      val cmpX = when(col("x1") < col("x2"), 1L)
        .when(col("x1") > col("x2"), -1L).otherwise(0L)
      val cmpY = when(col("y1") < col("y2"), 1L)
        .when(col("y1") > col("y2"), -1L).otherwise(0L)
      val g = pairs
        .withColumn("cx", cmpX).withColumn("cy", cmpY)
        .groupBy("yr")
        .agg(count(lit(1)).as("n0"),
          sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("dd"),
          sum(when(col("cx") === 0L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("cy") === 0L, 1L).otherwise(0L)).as("n2"))
      g.filter(col("n0") > col("n1") && col("n0") > col("n2"))
        .select(col("yr"), col("n0").as("n_pairs"),
          col("c").as("concordant"), col("dd").as("discordant"),
          ((col("c") - col("dd")).cast("double") /
            (sqrt((col("n0") - col("n1")).cast("double"))
              * sqrt((col("n0") - col("n2")).cast("double"))))
            .as("tau_b"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT a.yr,
          CASE WHEN a.x < b.x THEN 1 WHEN a.x > b.x THEN -1 ELSE 0 END AS cx,
          CASE WHEN a.y < b.y THEN 1 WHEN a.y > b.y THEN -1 ELSE 0 END AS cy
        FROM daily a JOIN daily b ON a.yr = b.yr AND a.d < b.d),
      g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dd,
          CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM pairs GROUP BY yr)
      SELECT yr, n0 AS n_pairs, c AS concordant, dd AS discordant,
        CAST(c - dd AS DOUBLE) /
          (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE)))
          AS tau_b
      FROM g WHERE n0 > n1 AND n0 > n2 ORDER BY yr"""),
    covers = Seq("STAT-kendall"))

  // ------------------------------------------------- runs test
  // Wald–Wolfowitz randomness check on the daily series: is the
  // up/down pattern around the year's median independent, or does it
  // trend/oscillate? The median is the VALUE at rank (n+1) div 2 —
  // well-defined whatever the tie order — days equal to it drop out
  // (the standard treatment), and a run boundary is an exact integer
  // sign flip counted by lag(). Everything through the run/up/down
  // counts is integer; the z-score closes with one fixed tree from
  // the exact n1, n2, R.
  private val q275 = QueryDef(
    "q275_runs_test",
    (s, dir) => {
      val d = daily(s, dir).select("yr", "d", "x")
      val wRank = Window.partitionBy("yr").orderBy(col("x"), col("d"))
      val wYear = Window.partitionBy("yr")
      val med = d
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wYear))
        .withColumn("m",
          max(when(col("i") === expr("(n + 1) div 2"), col("x"))).over(wYear))
      val signed = med.filter(col("x") =!= col("m"))
        .withColumn("up", (col("x") > col("m")).cast("long"))
      val wSeq = Window.partitionBy("yr").orderBy("d")
      val runs = signed
        .withColumn("flip",
          when(lag(col("up"), 1).over(wSeq).isNull, 1L)
            .when(lag(col("up"), 1).over(wSeq) =!= col("up"), 1L)
            .otherwise(0L))
        .groupBy("yr")
        .agg(sum(col("flip")).as("r"),
          sum(col("up")).as("n1"),
          sum(lit(1L) - col("up")).as("n2"))
        .filter(col("n1") > 0 && col("n2") > 0)
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = (col("n1") + col("n2")).cast("double")
      val twoN1N2 = lit(2.0d) * n1d * n2d
      val expected = twoN1N2 / nd + lit(1.0d)
      val variance = (twoN1N2 * (twoN1N2 - nd)) / (nd * nd * (nd - lit(1.0d)))
      runs.select(col("yr"), col("n1"), col("n2"), col("r").as("runs"),
          expected.as("expected_runs"),
          ((col("r").cast("double") - expected) / sqrt(variance)).as("z"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
        FROM orders GROUP BY 1),
      med AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY x, d)
                AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY yr) AS BIGINT) AS n
        FROM daily),
      medv AS (SELECT *, MAX(CASE WHEN i = (n + 1) // 2 THEN x END)
                 OVER (PARTITION BY yr) AS m
        FROM med),
      signed AS (SELECT yr, d,
          CAST(x > m AS BIGINT) AS up
        FROM medv WHERE x <> m),
      flips AS (SELECT yr, up,
          CASE WHEN LAG(up) OVER (PARTITION BY yr ORDER BY d) IS NULL THEN 1
               WHEN LAG(up) OVER (PARTITION BY yr ORDER BY d) <> up THEN 1
               ELSE 0 END AS flip
        FROM signed),
      g AS (SELECT yr, CAST(SUM(flip) AS BIGINT) AS r,
          CAST(SUM(up) AS BIGINT) AS n1,
          CAST(SUM(1 - up) AS BIGINT) AS n2
        FROM flips GROUP BY yr)
      SELECT yr, n1, n2, r AS runs,
        CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
          / CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE) AS expected_runs,
        (CAST(r AS DOUBLE)
          - (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / CAST(n1 + n2 AS DOUBLE) + CAST(1 AS DOUBLE)))
        / sqrt((CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                * (CAST(2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                   - CAST(n1 + n2 AS DOUBLE)))
               / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - CAST(1 AS DOUBLE)))) AS z
      FROM g WHERE n1 > 0 AND n2 > 0 ORDER BY yr"""),
    covers = Seq("STAT-runs-test"))

  // ------------------------------------------------- event RLE
  // Run-length encoding of per-user event streams: consecutive
  // repeats of the same event type collapse to (type, run_length,
  // start, end) — the gaps-and-islands shape that compresses bursty
  // telemetry and feeds sequence models fixed-alphabet runs. Island
  // ids are a running SUM of integer lag-flips (one window), the
  // per-island rollup is exact counts and min/max µs — partitioned by
  // user end to end, so the plan is one user shuffle at any scale.
  private val q283 = QueryDef(
    "q283_event_rle",
    (s, dir) => {
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = t(s, dir, "events")
        .filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      e.withColumn("flip",
          when(lag(col("event_type"), 1).over(wSeq).isNull, 1L)
            .when(lag(col("event_type"), 1).over(wSeq) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("flip")).over(wRun))
        // event_type is constant within an island, so it can be a
        // GROUP key — keeping it out of the aggregation buffer keeps
        // the rollup on the HashAggregate path (a first()/min() string
        // buffer would demote to SortAggregate, PlanAudit's flag)
        .groupBy("user_id", "island", "event_type")
        .agg(count(lit(1)).as("run_len"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .select(col("user_id"), col("island"), col("event_type"),
          col("run_len"), col("start_us"), col("end_us"))
        .orderBy("user_id", "island")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us, ts
        FROM events WHERE user_id % 20 = 0),
      f AS (SELECT *,
          CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) IS NULL THEN 1
               WHEN LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) <> event_type THEN 1
               ELSE 0 END AS flip
        FROM e),
      i AS (SELECT *,
          CAST(SUM(flip) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS island
        FROM f)
      SELECT user_id, island, MIN(event_type) AS event_type,
        CAST(COUNT(*) AS BIGINT) AS run_len,
        MIN(us) AS start_us, MAX(us) AS end_us
      FROM i GROUP BY user_id, island ORDER BY user_id, island"""),
    covers = Seq("TS-rle"))

  // ------------------------------------------------- peak rate
  // Peak 60-second burst per user: the max number of events any
  // sliding minute contains — the rate-limit/abuse metric. The
  // sliding count is ONE time-RANGE window frame ((us−60s, us], an
  // integer-µs frame so both engines cut it identically), the peak
  // and its first achieving instant come from a max + filtered min
  // over the user partition. No self-join, no per-second explode:
  // O(events) with two shared-sort windows, user-partitioned at any
  // scale.
  private val q286 = QueryDef(
    "q286_peak_rate",
    (s, dir) => {
      val wSlide = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-59999999L, 0)
      val wUser = Window.partitionBy("user_id")
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("cnt", count(lit(1)).over(wSlide))
        .withColumn("peak", max(col("cnt")).over(wUser))
        .withColumn("n_events", count(lit(1)).over(wUser))
        .filter(col("cnt") === col("peak"))
        .groupBy("user_id")
        .agg(first(col("n_events")).as("n_events"),
          first(col("peak")).as("peak_60s"),
          min(col("us")).as("peak_at_us"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      w AS (SELECT *,
          CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cnt,
          CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
        FROM e),
      p AS (SELECT *, MAX(cnt) OVER (PARTITION BY user_id) AS peak FROM w)
      SELECT user_id, MIN(n_events) AS n_events,
        CAST(MIN(peak) AS BIGINT) AS peak_60s,
        MIN(us) AS peak_at_us
      FROM p WHERE cnt = peak GROUP BY user_id ORDER BY user_id"""),
    covers = Seq("TS-peak-rate"))

  // ------------------------------------------------- CVaR
  // Expected shortfall of daily revenue per year: the mean of the
  // worst ⌈5%⌉ days — the coherent tail-risk measure that answers
  // "how bad is a bad day", where a quantile alone answers "how
  // often". The tail SET is picked by row_number over a total order
  // (revenue, then day — exact DECIMAL compares), its size is the
  // integer ⌈n/20⌉, and both the VaR boundary (the worst kept value)
  // and the tail mean close from exact sums with one division each.
  // Daily grain keeps every year's window single-task at any fact
  // size.
  private val q297 = QueryDef(
    "q297_cvar",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
        .withColumn("yr", year(col("d")).cast("long"))
      val wRank = Window.partitionBy("yr").orderBy(col("rev"), col("d"))
      val wYear = Window.partitionBy("yr")
      daily
        .withColumn("i", row_number().over(wRank).cast("long"))
        .withColumn("n", count(lit(1)).over(wYear))
        .filter(col("i") <= expr("(n + 19) div 20"))
        .groupBy("yr")
        .agg(first(col("n")).as("n_days"),
          count(lit(1)).as("tail_days"),
          max(col("rev")).as("var_boundary"),
          sum(col("rev")).as("tail_sum"))
        .select(col("yr"), col("n_days"), col("tail_days"),
          col("var_boundary").cast("double").as("var_5pct"),
          (col("tail_sum").cast("double") / col("tail_days").cast("double"))
            .as("cvar_5pct"))
        .orderBy("yr")
    },
    Some("""WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS yr
        FROM orders GROUP BY 1, 3),
      ranked AS (SELECT *,
          CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev, d)
            AS BIGINT) AS i,
          CAST(COUNT(*) OVER (PARTITION BY yr) AS BIGINT) AS n
        FROM daily)
      SELECT yr, MIN(n) AS n_days,
        CAST(COUNT(*) AS BIGINT) AS tail_days,
        CAST(MAX(rev) AS DOUBLE) AS var_5pct,
        CAST(SUM(rev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cvar_5pct
      FROM ranked
      WHERE i <= (n + 19) // 20
      GROUP BY yr ORDER BY yr"""),
    covers = Seq("STAT-cvar"))

  // ------------------------------------------------- FK integrity
  // Referential-integrity audit across the whole star: for every
  // foreign-key edge (lineitem→orders, lineitem→part, orders→customer,
  // customer→nation, supplier→nation), count the child rows whose key
  // has no parent — the orphan report a warehouse load gate runs
  // after every batch (q110 audits single-table constraints; this
  // audits the EDGES). Each edge is one left-anti join against the
  // parent's distinct key — broadcast when the parent is a dim — and
  // the report unions five 1-row aggregates; shares close as one
  // division each.
  private val q298 = QueryDef(
    "q298_fk_integrity",
    (s, dir) => {
      // each edge is a LAZY pair of 1-row aggregates — the whole
      // 5-edge audit unions into one action so the five scans and
      // anti-joins schedule concurrently instead of as 10 serial
      // driver-side counts (measured ~2x faster at sf0.1)
      def edge(name: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val n = child.agg(count(lit(1)).as("n_rows"))
        val orphans = child.select(col(key))
          .join(parent.select(col(pkey).as(key)).distinct(),
            Seq(key), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        n.crossJoin(orphans)
          .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
      }
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val p = t(s, dir, "part")
      edge("customer->nation", c, "c_nationkey", na, "n_nationkey")
        .unionByName(edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"))
        .unionByName(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(edge("supplier->nation", su, "s_nationkey", na, "n_nationkey"))
        .withColumn("orphan_share",
          col("n_orphans").cast("double") / col("n_rows").cast("double"))
        .orderBy("fk_edge")
    },
    Some("""WITH edges AS (
        SELECT 'customer->nation' AS fk_edge,
          CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_rows,
          CAST((SELECT COUNT(*) FROM customer
                WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
            AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'lineitem->orders',
          CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
          CAST((SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
            AS BIGINT)
        UNION ALL
        SELECT 'lineitem->part',
          CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
          CAST((SELECT COUNT(*) FROM lineitem
                WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
            AS BIGINT)
        UNION ALL
        SELECT 'orders->customer',
          CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
          CAST((SELECT COUNT(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
            AS BIGINT)
        UNION ALL
        SELECT 'supplier->nation',
          CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
          CAST((SELECT COUNT(*) FROM supplier
                WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
            AS BIGINT))
      SELECT fk_edge, n_rows, n_orphans,
        CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE) AS orphan_share
      FROM edges ORDER BY fk_edge"""),
    covers = Seq("DQ-fk-integrity"))

  // ------------------------------------------------- HHI
  // Herfindahl–Hirschman concentration of supplier revenue per
  // nation: Σ shareᵢ² — the antitrust-grade answer to "is this
  // market a few big players or many small ones" — plus its inverse
  // (the effective number of equal suppliers). Per-supplier revenues
  // are exact DECIMAL sums; each share-square is ONE fixed IEEE tree
  // над them, and the cross-supplier Σ folds an ORDERED list
  // sequentially on both engines (aggregate ↔ list_reduce, the q206
  // discipline) so the double sum is bit-pinned. Supplier grain is
  // dimension-sized: the fold list stays small at any fact scale.
  private val q302 = QueryDef(
    "q302_market_hhi",
    (s, dir) => {
      val rev = t(s, dir, "lineitem").join(
        t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nation"), col("s_suppkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("r"))
      val tot = rev.groupBy("nation")
        .agg(sum(col("r")).cast(DecimalType(38, 2)).as("tr"),
          count(lit(1)).as("n_suppliers"))
      val share = col("x.r").cast("double") / col("tr").cast("double")
      val terms = rev.as("x").join(tot, "nation")
        .select(col("nation"), col("n_suppliers"), col("tr"),
          col("x.s_suppkey").as("sk"), (share * share).as("v"))
      terms.groupBy("nation")
        .agg(first(col("n_suppliers")).as("n_suppliers"),
          first(col("tr")).cast("double").as("total_rev"),
          aggregate(
            sort_array(collect_list(struct(col("sk"), col("v")))),
            lit(0.0d), (acc, x) => acc + x.getField("v")).as("hhi"))
        .select(col("nation"), col("n_suppliers"), col("total_rev"),
          col("hhi"), (lit(1.0d) / col("hhi")).as("effective_suppliers"))
        .orderBy("nation")
    },
    Some("""WITH rev AS (SELECT s_nationkey AS nation, s_suppkey,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      tot AS (SELECT nation, CAST(SUM(r) AS DECIMAL(38,2)) AS tr,
          CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY 1),
      terms AS (SELECT rev.nation, n_suppliers, tr, s_suppkey AS sk,
          (CAST(r AS DOUBLE) / CAST(tr AS DOUBLE))
            * (CAST(r AS DOUBLE) / CAST(tr AS DOUBLE)) AS v
        FROM rev JOIN tot USING (nation)),
      folded AS (SELECT nation,
          MIN(n_suppliers) AS n_suppliers,
          CAST(MIN(tr) AS DOUBLE) AS total_rev,
          list_reduce(list(v ORDER BY sk), (a, b) -> a + b) AS hhi
        FROM terms GROUP BY nation)
      SELECT nation, n_suppliers, total_rev, hhi,
        CAST(1 AS DOUBLE) / hhi AS effective_suppliers
      FROM folded ORDER BY nation"""),
    covers = Seq("STAT-hhi"))

  // ------------------------------------------------- l-diversity
  // k-anonymity (q264) says how many rows share a quasi-identifier;
  // l-diversity says how many DISTINCT sensitive values hide inside
  // each group — a k-anonymous group whose members all share one
  // source still leaks it. Quasi-id = (lang, 200-char length band),
  // sensitive = source; flags groups failing k<5 or l<3. One groupBy,
  // countDistinct inside it — a single shuffle at any scale.
  private val q309 = QueryDef(
    "q309_l_diversity",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), expr("n_chars DIV 200").as("len_band"),
          col("source"))
        .groupBy("lang", "len_band")
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("source")).as("l_div"))
        .withColumn("at_risk", col("k_size") < 5 || col("l_div") < 3)
        .orderBy("lang", "len_band")
    },
    Some("""SELECT lang, n_chars // 200 AS len_band,
        CAST(COUNT(*) AS BIGINT) AS k_size,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS l_div,
        (COUNT(*) < 5 OR COUNT(DISTINCT source) < 3) AS at_risk
      FROM documents
      GROUP BY lang, len_band
      ORDER BY lang, len_band"""),
    covers = Seq("PRIV-l-diversity"))

  // ------------------------------------------------- per-source KS drift
  // q208's two-sample Kolmogorov–Smirnov, decomposed per source: each
  // source's n_chars distribution against the REST of the corpus —
  // the drill-down that names the drifting source instead of only
  // detecting drift. ECDFs evaluate on the dense sources × distinct-
  // values grid (|sources|·|values| rows, window cumsums partitioned
  // by source); sup|F_s − F_rest| is exact-integer cumulative counts
  // through one division each and an order-independent max.
  private val q312 = QueryDef(
    "q312_ks_by_source",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val vals = d.select(col("n_chars").as("v")).distinct()
      val srcCnt = d.groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
      val gblCnt = d.groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).as("gc"))
      val wSrc = Window.partitionBy("source").orderBy("v")
      val wAll = Window.orderBy("v")
      val allCum = vals.join(gblCnt, Seq("v"), "left")
        .withColumn("gcum", sum(coalesce(col("gc"), lit(0L))).over(wAll))
        .select("v", "gcum")
      val perSrc = d.groupBy("source").agg(count(lit(1)).as("n_src"))
      val nTot = d.agg(count(lit(1)).as("n_tot"))
      val dense = d.select("source").distinct().crossJoin(vals)
        .join(srcCnt, Seq("source", "v"), "left")
        .withColumn("scum", sum(coalesce(col("c"), lit(0L))).over(wSrc))
      dense.join(allCum, Seq("v"))
        .join(perSrc, Seq("source"))
        .crossJoin(broadcast(nTot))
        .select(col("source"), col("n_src"),
          abs(col("scum").cast("double") / col("n_src").cast("double") -
            (col("gcum") - col("scum")).cast("double") /
              (col("n_tot") - col("n_src")).cast("double")).as("dd"))
        .groupBy("source", "n_src")
        .agg(max(col("dd")).as("ks"))
        .orderBy("source")
    },
    Some("""WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
      srcs AS (SELECT DISTINCT source FROM documents),
      sc AS (SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
             FROM documents GROUP BY source, n_chars),
      gc AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS gc
             FROM documents GROUP BY n_chars),
      acum AS (SELECT v, CAST(SUM(gc) OVER (ORDER BY v) AS BIGINT) AS gcum
               FROM vals LEFT JOIN gc USING (v)),
      ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
             FROM documents GROUP BY source),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
      dense AS (SELECT source, v,
          CAST(SUM(COALESCE(c, 0)) OVER (PARTITION BY source ORDER BY v)
            AS BIGINT) AS scum
        FROM (SELECT * FROM srcs CROSS JOIN vals) g
        LEFT JOIN sc USING (source, v))
      SELECT source, n_src,
        MAX(abs(CAST(scum AS DOUBLE) / CAST(n_src AS DOUBLE)
          - CAST(gcum - scum AS DOUBLE) / CAST(n_tot - n_src AS DOUBLE)))
          AS ks
      FROM dense JOIN acum USING (v) JOIN ps USING (source), nt
      GROUP BY source, n_src
      ORDER BY source"""),
    covers = Seq("DRIFT-ks-by-source"))

  // ------------------------------------------------- forecast backtest
  // Seasonal-naive baseline backtest: predict each day's event count
  // with the same weekday last week, score MAE and bias per type.
  // Exact integer error sums (|actual−predicted| over the self-join
  // on d−7), one division each at the end — the forecasting
  // scorecard every volume-planning pipeline keeps.
  private val q317 = QueryDef(
    "q317_seasonal_naive_backtest",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val a = daily.as("a")
      val p = daily.select(col("event_type"), col("d"), col("x").as("px")).as("p")
      a.join(p, col("a.event_type") === col("p.event_type") &&
          col("p.d") === date_sub(col("a.d"), 7))
        .select(col("a.event_type").as("event_type"),
          (col("a.x") - col("px")).as("diff"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("diff"))).as("sad"), sum(col("diff")).as("sd"))
        .select(col("event_type"), col("n_days"),
          (col("sad").cast("double") / col("n_days").cast("double")).as("mae"),
          (col("sd").cast("double") / col("n_days").cast("double")).as("bias"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      j AS (SELECT a.event_type, a.x - p.x AS diff
        FROM daily a JOIN daily p
          ON a.event_type = p.event_type AND p.d = a.d - 7)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(abs(diff)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        CAST(SUM(diff) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bias
      FROM j GROUP BY event_type
      ORDER BY event_type"""),
    covers = Seq("TS-backtest"))

  // ------------------------------------------------- Q-Q table
  // Quantile-quantile comparison of document length between each
  // language and the corpus: the harmonization table a score-
  // normalization step reads. percentile_disc picks real members
  // (exact order statistics, no interpolation), evaluated at the
  // deciles; the corpus side broadcasts.
  private val q334 = QueryDef(
    "q334_qq_table",
    (s, dir) => {
      val d = t(s, dir, "documents")
      def qcols(src: DataFrame, pre: String) = src.agg(
        expr(s"percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars)")
          .as(s"${pre}1"),
        (2 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars)")
            .as(s"$pre$i")): _*)
      val perLang = d.groupBy("lang").agg(
        expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars)").as("l1"),
        (2 to 9).map(i =>
          expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars)")
            .as(s"l$i")): _*)
      val corpus = qcols(d, "c")
      val unpivoted = perLang.crossJoin(broadcast(corpus))
        .select(col("lang"), explode(array((1 to 9).map(i =>
          struct(lit(i.toLong).as("decile"),
            col(s"l$i").as("lang_q"), col(s"c$i").as("corpus_q"))): _*))
          .as("p"))
        .select(col("lang"), col("p.decile"),
          // Spark's percentile_disc surfaces DOUBLE even over integer
          // input; the picked values are exact members, so the BIGINT
          // cast is lossless and matches the oracle's type
          col("p.lang_q").cast(LongType).as("lang_q"),
          col("p.corpus_q").cast(LongType).as("corpus_q"))
      unpivoted
        .withColumn("qq_ratio",
          col("lang_q").cast("double") / col("corpus_q").cast("double"))
        .orderBy("lang", "decile")
    },
    Some {
      val langQ = (1 to 9).map(i =>
        s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars) AS l$i")
        .mkString(", ")
      val corpQ = (1 to 9).map(i =>
        s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY n_chars) AS c$i")
        .mkString(", ")
      val rows = (1 to 9).map(i =>
        s"SELECT lang, CAST($i AS BIGINT) AS decile, " +
          s"CAST(l$i AS BIGINT) AS lang_q, " +
          s"CAST(c$i AS BIGINT) AS corpus_q FROM pl, c")
        .mkString(" UNION ALL ")
      s"""WITH pl AS (SELECT lang, $langQ FROM documents GROUP BY lang),
      c AS (SELECT $corpQ FROM documents),
      u AS ($rows)
      SELECT lang, decile, lang_q, corpus_q,
        CAST(lang_q AS DOUBLE) / CAST(corpus_q AS DOUBLE) AS qq_ratio
      FROM u ORDER BY lang, decile"""
    },
    covers = Seq("STAT-qq"))

  // ------------------------------------------------- change-point scan
  // Largest regime shift per event type: for each day index t of D,
  // the scaled deviation of the prefix count from the uniform path,
  // |D·P_t − t·T| — an exact-integer CUSUM-style scan; the reported
  // day maximizes it (ties → earliest day). Prefix sums are one
  // window per type; the argmax is one more.
  private val q335 = QueryDef(
    "q335_changepoint_scan",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val pref = daily
        .withColumn("p", sum(col("x")).over(w))
        .withColumn("t", row_number().over(w).cast(LongType))
      val tot = pref.groupBy("event_type")
        .agg(max(col("p")).as("total"), max(col("t")).as("dd"))
      val dev = pref.join(tot, Seq("event_type"))
        .withColumn("dev",
          abs(col("dd") * col("p") - col("t") * col("total")))
      val wPick = Window.partitionBy("event_type")
        .orderBy(desc("dev"), asc("d"))
      dev.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("changepoint_day"),
          col("t").as("day_index"), col("dd").as("n_days"),
          (col("dev").cast("double") /
            (col("dd") * col("total")).cast("double")).as("magnitude"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      pref AS (SELECT event_type, d, x,
          CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT)
            AS p,
          CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
            AS BIGINT) AS t
        FROM daily),
      tot AS (SELECT event_type, MAX(p) AS total, MAX(t) AS dd
              FROM pref GROUP BY event_type),
      dev AS (SELECT pref.event_type, d, t, dd, total,
          abs(dd * p - t * total) AS dev
        FROM pref JOIN tot USING (event_type)),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY dev DESC, d) AS rn FROM dev)
      SELECT event_type, d AS changepoint_day, t AS day_index, dd AS n_days,
        CAST(dev AS DOUBLE) / CAST(dd * total AS DOUBLE) AS magnitude
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-changepoint"))

  // ------------------------------------------------- rank location
  // Mann-Whitney-style location profile: each source's mean corpus
  // percentile of document length — sources drifting long or short in
  // one number each. Global ranks are unique ((n_chars, doc_id)
  // total order), the mean percentile is Σrank/(n_src·(N+1)) — a
  // single division over exact longs; 0.5 = perfectly central.
  private val q338 = QueryDef(
    "q338_source_rank_location",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // global length rank over ALL DOCUMENTS — row-scale; two-phase
      // GlobalOrder form (round-12 window audit, bit-identical by
      // GlobalOrderSpec)
      val ranked = graft.operators.GlobalOrder.rowNumber(
          d.select(col("source"), col("n_chars"), col("doc_id")),
          col("n_chars"), leadDesc = false,
          Seq(col("n_chars"), col("doc_id")), "rk")
        .withColumn("rk", col("rk").cast(LongType))
      val tot = ranked.agg(count(lit(1)).as("nn"))
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("rk")).as("srk"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          (col("srk").cast("double") /
            (col("n_docs") * (col("nn") + 1L)).cast("double"))
            .as("mean_percentile"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT source,
          CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rk
        FROM documents),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM r)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(rk) AS DOUBLE) / CAST(COUNT(*) * (nn + 1) AS DOUBLE)
          AS mean_percentile
      FROM r, tot
      GROUP BY source, nn
      ORDER BY source"""),
    covers = Seq("STAT-rank-location"))

  // ------------------------------------------------- Lorenz curve
  // Revenue concentration as the full curve, not one number (q145's
  // Gini): customers ntile'd into revenue deciles over a unique
  // (revenue, custkey) order, each decile's exact revenue share and
  // the cumulative share — the bottom-decile rows read "the bottom
  // 30% of customers carry X% of revenue".
  private val q339 = QueryDef(
    "q339_lorenz_points",
    (s, dir) => {
      val per = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(rev).as("r"))
      val w = Window.orderBy(col("r"), col("o_custkey"))
      val dec = per.withColumn("decile", ntile(10).over(w).cast(LongType))
      val g = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("r")).cast(DecimalType(38, 4)).as("dec_rev"))
      val tot = g.agg(sum(col("dec_rev")).as("t"))
      val wc = Window.orderBy("decile")
      g.crossJoin(broadcast(tot))
        .withColumn("cum_rev",
          sum(col("dec_rev")).over(wc).cast(DecimalType(38, 4)))
        .select(col("decile"), col("n_customers"),
          (col("dec_rev").cast("double") / col("t").cast("double"))
            .as("rev_share"),
          (col("cum_rev").cast("double") / col("t").cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""WITH per AS (SELECT o_custkey,
          SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
            AS DECIMAL(18,4))) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_custkey),
      d AS (SELECT o_custkey, r,
          CAST(ntile(10) OVER (ORDER BY r, o_custkey) AS BIGINT) AS decile
        FROM per),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
          CAST(SUM(r) AS DECIMAL(38,4)) AS dec_rev
        FROM d GROUP BY decile),
      tot AS (SELECT CAST(SUM(dec_rev) AS DECIMAL(38,4)) AS t FROM g),
      c AS (SELECT decile, n_customers, dec_rev,
          CAST(SUM(dec_rev) OVER (ORDER BY decile) AS DECIMAL(38,4))
            AS cum_rev
        FROM g)
      SELECT decile, n_customers,
        CAST(dec_rev AS DOUBLE) / CAST(t AS DOUBLE) AS rev_share,
        CAST(cum_rev AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
      FROM c, tot
      ORDER BY decile"""),
    covers = Seq("STAT-lorenz"))

  // ------------------------------------------------- A/B split balance
  // Sample-ratio-mismatch audit for a deterministic md5-parity
  // experiment split of the corpus: arm sizes with the chi-square
  // statistic against 50/50, plus per-arm mean length — the balance
  // check run before trusting any experiment readout. All counts
  // exact; chi² = (a−b)²/(a+b) over exact longs.
  private val q346 = QueryDef(
    "q346_ab_srm_check",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("arm",
          (conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast(LongType) % 2).cast(LongType))
      val g = d.groupBy("arm")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("schars"))
      val wide = g.agg(
        sum(when(col("arm") === 0, col("n_docs")).otherwise(0L)).as("a"),
        sum(when(col("arm") === 1, col("n_docs")).otherwise(0L)).as("b"),
        sum(when(col("arm") === 0, col("schars")).otherwise(0L)).as("ca"),
        sum(when(col("arm") === 1, col("schars")).otherwise(0L)).as("cb"))
      wide.select(col("a").as("arm_a"), col("b").as("arm_b"),
        (((col("a") - col("b")) * (col("a") - col("b"))).cast("double") /
          (col("a") + col("b")).cast("double")).as("srm_chi2"),
        (col("ca").cast("double") / col("a").cast("double"))
          .as("mean_chars_a"),
        (col("cb").cast("double") / col("b").cast("double"))
          .as("mean_chars_b"))
    },
    Some("""WITH d AS (SELECT n_chars,
          CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 2
            AS BIGINT) AS arm
        FROM documents),
      g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS schars
        FROM d GROUP BY arm),
      wide AS (SELECT
          CAST(SUM(CASE WHEN arm = 0 THEN n_docs ELSE 0 END) AS BIGINT) AS a,
          CAST(SUM(CASE WHEN arm = 1 THEN n_docs ELSE 0 END) AS BIGINT) AS b,
          CAST(SUM(CASE WHEN arm = 0 THEN schars ELSE 0 END) AS BIGINT)
            AS ca,
          CAST(SUM(CASE WHEN arm = 1 THEN schars ELSE 0 END) AS BIGINT)
            AS cb
        FROM g)
      SELECT a AS arm_a, b AS arm_b,
        CAST((a - b) * (a - b) AS DOUBLE) / CAST(a + b AS DOUBLE)
          AS srm_chi2,
        CAST(ca AS DOUBLE) / CAST(a AS DOUBLE) AS mean_chars_a,
        CAST(cb AS DOUBLE) / CAST(b AS DOUBLE) AS mean_chars_b
      FROM wide"""),
    covers = Seq("SAMPLE-srm"))

  // ------------------------------------------------- peak days
  // Local-maximum detection on the daily volume series per event
  // type: days strictly above both neighbors (lag/lead over the date
  // order), counted and the tallest peak reported — the alarm-day
  // census of a monitoring pipeline.
  private val q347 = QueryDef(
    "q347_peak_days",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val flagged = daily
        .withColumn("prev", lag(col("x"), 1).over(w))
        .withColumn("nxt", lead(col("x"), 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull)
        .withColumn("is_peak", col("x") > col("prev") && col("x") > col("nxt"))
      flagged.groupBy("event_type")
        .agg(count(lit(1)).as("n_interior_days"),
          sum(when(col("is_peak"), 1L).otherwise(0L)).as("n_peaks"),
          max(when(col("is_peak"), col("x")).otherwise(lit(null)))
            .as("tallest_peak"))
        .withColumn("peak_rate",
          col("n_peaks").cast("double") / col("n_interior_days").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      f AS (SELECT event_type, x,
          lag(x) OVER (PARTITION BY event_type ORDER BY d) AS prev,
          lead(x) OVER (PARTITION BY event_type ORDER BY d) AS nxt
        FROM daily)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_interior_days,
        CAST(SUM(CASE WHEN x > prev AND x > nxt THEN 1 ELSE 0 END)
          AS BIGINT) AS n_peaks,
        MAX(CASE WHEN x > prev AND x > nxt THEN x END) AS tallest_peak,
        CAST(SUM(CASE WHEN x > prev AND x > nxt THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS peak_rate
      FROM f WHERE prev IS NOT NULL AND nxt IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type"""),
    covers = Seq("TS-peaks"))

  // ------------------------------------------------- seasonality strength
  // How much of the daily-volume variance the weekday explains:
  // R² = SS_between(dow)/SS_total per event type. Group moments are
  // exact longs; the 7 rational dow terms S_d²/n_d fold in fixed dow
  // order (aggregate ↔ list_reduce), the rest is one division.
  private val q352 = QueryDef(
    "q352_seasonality_strength",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", dayofweek(col("d")).cast(LongType))
      val byDow = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .withColumn("v", col("sx").cast("double") * col("sx").cast("double") /
          col("n").cast("double"))
      val folded = byDow.groupBy("event_type")
        .agg(sum(col("n")).as("nn"), sum(col("sx")).as("gsx"),
          aggregate(sort_array(collect_list(struct(col("dow"), col("v")))),
            lit(0.0d), (acc, x) => acc + x.getField("v")).as("fold"))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("x") * col("x")).as("sxx"))
      folded.join(tot, Seq("event_type"))
        .select(col("event_type"), col("nn").as("n_days"),
          ((col("fold") - col("gsx").cast("double") * col("gsx").cast("double")
            / col("nn").cast("double")) /
            (col("sxx").cast("double") - col("gsx").cast("double") *
              col("gsx").cast("double") / col("nn").cast("double")))
            .as("seasonality_r2"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      dd AS (SELECT event_type,
          CAST(dayofweek(d) AS BIGINT) + 1 AS dow, x FROM daily),
      byd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx
        FROM dd GROUP BY event_type, dow),
      tm AS (SELECT event_type, dow, n, sx,
          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS v
        FROM byd),
      f AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(sx) AS BIGINT) AS gsx,
          CAST(0 AS DOUBLE) + list_reduce(list(v ORDER BY dow),
            (a, b) -> a + b) AS fold
        FROM tm GROUP BY event_type),
      tot AS (SELECT event_type, CAST(SUM(x * x) AS BIGINT) AS sxx
              FROM daily GROUP BY event_type)
      SELECT event_type, nn AS n_days,
        (fold - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)
            / CAST(nn AS DOUBLE))
        / (CAST(sxx AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE)
            / CAST(nn AS DOUBLE)) AS seasonality_r2
      FROM f JOIN tot USING (event_type)
      ORDER BY event_type"""),
    covers = Seq("TS-seasonality-r2"))

  // ------------------------------------------------- Neyman allocation
  // Survey-sampling design: allocate a 1000-doc inspection budget
  // across sources proportional to N_h·s_h (Neyman). Strata moments
  // are exact longs; s_h is one sqrt over them, and the weight
  // normalizer folds in fixed source order (the q302 pattern) so the
  // shares are partition-independent. Allocations floor to integers.
  private val q354 = QueryDef(
    "q354_neyman_allocation",
    (s, dir) => {
      val g = t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
        .withColumn("sd", sqrt(
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("n").cast("double"))))
        .withColumn("w", col("n").cast("double") * col("sd"))
      val tot = g.agg(
        aggregate(sort_array(collect_list(struct(col("source"), col("w")))),
          lit(0.0d), (a, x) => a + x.getField("w")).as("sw"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("n").as("n_docs"), col("sd"),
          (col("w") / col("sw")).as("alloc_share"),
          floor(lit(1000.0d) * (col("w") / col("sw"))).cast(LongType)
            .as("alloc_n"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS sx,
          CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      w AS (SELECT source, n,
          sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd,
          CAST(n AS DOUBLE) * sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS w
        FROM g),
      tot AS (SELECT CAST(0 AS DOUBLE) + list_reduce(
          list(w ORDER BY source), (a, b) -> a + b) AS sw FROM w)
      SELECT source, n AS n_docs, sd,
        w / sw AS alloc_share,
        CAST(floor(CAST(1000 AS DOUBLE) * (w / sw)) AS BIGINT) AS alloc_n
      FROM w, tot
      ORDER BY source"""),
    covers = Seq("SAMPLE-neyman"))

  // ------------------------------------------------- daily mix stability
  // Day-over-day total-variation distance of the event-type mix: per
  // day the 5-type share vector, TV against the previous day as a
  // fixed-order fold over types (shares are rational doubles, the
  // fold order is pinned), then only order-independent summaries (max,
  // count above 0.1) — no unordered double summation anywhere.
  private val q364 = QueryDef(
    "q364_daily_mix_stability",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.groupBy("d").agg(sum(col("x")).as("td"))
      val shares = daily.join(tot, Seq("d"))
        .select(col("d"), col("event_type"),
          (col("x").cast("double") / col("td").cast("double")).as("sh"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val withPrev = shares
        .withColumn("prev_sh", lag(col("sh"), 1).over(w))
        .withColumn("prev_d", lag(col("d"), 1).over(w))
        .filter(col("prev_sh").isNotNull &&
          col("prev_d") === date_sub(col("d"), 1))
        .withColumn("term", abs(col("sh") - col("prev_sh")))
      val tv = withPrev.groupBy("d")
        .agg((aggregate(
          sort_array(collect_list(struct(col("event_type"), col("term")))),
          lit(0.0d), (a, x) => a + x.getField("term")) / lit(2.0d)).as("tv"),
          count(lit(1)).as("n_types"))
        .filter(col("n_types") === 5)
      tv.agg(count(lit(1)).as("n_days"),
        max(col("tv")).as("max_tv"),
        sum(when(col("tv") > 0.1, 1L).otherwise(0L)).as("n_unstable"))
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY d, event_type),
      tot AS (SELECT d, CAST(SUM(x) AS BIGINT) AS td FROM daily GROUP BY d),
      sh AS (SELECT d, event_type,
          CAST(x AS DOUBLE) / CAST(td AS DOUBLE) AS sh
        FROM daily JOIN tot USING (d)),
      wp AS (SELECT d, event_type, sh,
          lag(sh) OVER (PARTITION BY event_type ORDER BY d) AS prev_sh,
          lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev_d
        FROM sh),
      terms AS (SELECT d, event_type, abs(sh - prev_sh) AS term
        FROM wp WHERE prev_sh IS NOT NULL AND prev_d = d - 1),
      tv AS (SELECT d,
          (CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY event_type),
            (a, b) -> a + b)) / CAST(2 AS DOUBLE) AS tv,
          CAST(COUNT(*) AS BIGINT) AS n_types
        FROM terms GROUP BY d)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        MAX(tv) AS max_tv,
        CAST(SUM(CASE WHEN tv > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unstable
      FROM tv WHERE n_types = 5"""),
    covers = Seq("TS-mix-stability"))

  // ------------------------------------------------- post-peak decay
  // What happens the day after the spike: each type's tallest day
  // (ties → earliest) and the next-day retention x_next/x_peak — the
  // decay profile of traffic spikes. Peak pick and neighbor read are
  // two windows over the date order.
  private val q365 = QueryDef(
    "q365_post_peak_decay",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val withNext = daily
        .withColumn("next_x", lead(col("x"), 1).over(w))
        .withColumn("next_d", lead(col("d"), 1).over(w))
      val pick = Window.partitionBy("event_type").orderBy(desc("x"), asc("d"))
      withNext.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("peak_day"),
          col("x").as("peak_events"),
          when(col("next_d") === date_add(col("d"), 1), col("next_x"))
            .otherwise(lit(null)).as("next_day_events"),
          when(col("next_d") === date_add(col("d"), 1),
            col("next_x").cast("double") / col("x").cast("double"))
            .otherwise(lit(null)).as("retention"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      wn AS (SELECT event_type, d, x,
          lead(x) OVER (PARTITION BY event_type ORDER BY d) AS next_x,
          lead(d) OVER (PARTITION BY event_type ORDER BY d) AS next_d
        FROM daily),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY x DESC, d) AS rn FROM wn)
      SELECT event_type, d AS peak_day, x AS peak_events,
        CASE WHEN next_d = d + 1 THEN next_x END AS next_day_events,
        CASE WHEN next_d = d + 1
          THEN CAST(next_x AS DOUBLE) / CAST(x AS DOUBLE) END AS retention
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-peak-decay"))

  // ------------------------------------------------- tail heaviness
  // How heavy is the order-value tail, without a parametric fit (the
  // Hill estimator needs ln): P99/P50 and max/P99 of order totals in
  // exact cents per market segment. Ratios of exact order statistics
  // only.
  private val q367 = QueryDef(
    "q367_tail_heaviness",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast(LongType)
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p99"),
          max(col("c")).as("mx"))
        .select(col("segment"), col("n_orders"),
          (col("p99").cast("double") / col("p50").cast("double"))
            .as("p99_over_p50"),
          (col("mx").cast("double") / col("p99").cast("double"))
            .as("max_over_p99"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p50,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
            AS p99,
          MAX(c) AS mx
        FROM o GROUP BY segment)
      SELECT segment, n_orders,
        CAST(p99 AS DOUBLE) / CAST(p50 AS DOUBLE) AS p99_over_p50,
        CAST(mx AS DOUBLE) / CAST(p99 AS DOUBLE) AS max_over_p99
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-tail"))

  // ------------------------------------------------- factorial effects
  // Two-way decomposition of event value: cell mean(hour-band ×
  // weekpart) minus row mean minus column mean plus grand mean — the
  // interaction effect of a 2-factor ANOVA table, every mean a ratio
  // of exact DECIMAL/long sums computed from broadcast marginals with
  // one fixed IEEE tree per cell.
  private val q368 = QueryDef(
    "q368_hour_weekpart_effects",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        (hour(col("ts")) >= 12).as("pm"),
        (dayofweek(col("ts")).isin(1, 7)).as("wkend"),
        dec(col("value")).as("v"))
      val cell = e.groupBy("pm", "wkend")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val rowM = e.groupBy("pm")
        .agg(count(lit(1)).as("rn"), sum(col("v")).as("rsv"))
      val colM = e.groupBy("wkend")
        .agg(count(lit(1)).as("cn"), sum(col("v")).as("csv"))
      val g = e.agg(count(lit(1)).as("gn"), sum(col("v")).as("gsv"))
      cell.join(broadcast(rowM), Seq("pm"))
        .join(broadcast(colM), Seq("wkend"))
        .crossJoin(broadcast(g))
        .select(col("pm"), col("wkend"), col("n").as("n_events"),
          (col("sv").cast("double") / col("n").cast("double"))
            .as("cell_mean"),
          (col("sv").cast("double") / col("n").cast("double") -
            col("rsv").cast("double") / col("rn").cast("double") -
            col("csv").cast("double") / col("cn").cast("double") +
            col("gsv").cast("double") / col("gn").cast("double"))
            .as("interaction"))
        .orderBy("pm", "wkend")
    },
    Some("""WITH e AS (SELECT
          EXTRACT(hour FROM ts) >= 12 AS pm,
          dayofweek(ts) IN (0, 6) AS wkend,
          CAST(value AS DECIMAL(18,2)) AS v
        FROM events),
      cell AS (SELECT pm, wkend, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(v) AS sv FROM e GROUP BY pm, wkend),
      rm AS (SELECT pm, CAST(COUNT(*) AS BIGINT) AS rn, SUM(v) AS rsv
             FROM e GROUP BY pm),
      cm AS (SELECT wkend, CAST(COUNT(*) AS BIGINT) AS cn, SUM(v) AS csv
             FROM e GROUP BY wkend),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, SUM(v) AS gsv FROM e)
      SELECT pm, wkend, n AS n_events,
        CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS cell_mean,
        CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(rsv AS DOUBLE) / CAST(rn AS DOUBLE)
          - CAST(csv AS DOUBLE) / CAST(cn AS DOUBLE)
          + CAST(gsv AS DOUBLE) / CAST(gn AS DOUBLE) AS interaction
      FROM cell JOIN rm USING (pm) JOIN cm USING (wkend), g
      ORDER BY pm, wkend"""),
    covers = Seq("STAT-factorial"))

  // ------------------------------------------------- robust anomaly days
  // Robust anomaly census: a day is anomalous for a type when its
  // count deviates from the type's MEDIAN by more than 3× the MAD
  // (both exact order statistics over integer counts — no mean/sd to
  // be dragged by the outliers being hunted). Reports the anomaly
  // count and rate per type.
  private val q372 = QueryDef(
    "q372_robust_anomaly_days",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("x"))
      val med = daily.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .cast(LongType).as("med"))
      val dev = daily.join(broadcast(med), Seq("event_type"))
        .withColumn("ad", abs(col("x") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
          .cast(LongType).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          first(col("med")).as("median_daily"),
          first(col("mad")).as("mad"),
          sum(when(col("ad") > col("mad") * 3, 1L).otherwise(0L))
            .as("n_anomalies"))
        .withColumn("anomaly_rate",
          col("n_anomalies").cast("double") / col("n_days").cast("double"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, d),
      med AS (SELECT event_type,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT)
            AS med
        FROM daily GROUP BY event_type),
      dev AS (SELECT daily.event_type, x, med, abs(x - med) AS ad
        FROM daily JOIN med USING (event_type)),
      mad AS (SELECT event_type,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS BIGINT)
            AS mad
        FROM dev GROUP BY event_type)
      SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        MIN(med) AS median_daily, MIN(mad) AS mad,
        CAST(SUM(CASE WHEN ad > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_anomalies,
        CAST(SUM(CASE WHEN ad > mad * 3 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS anomaly_rate
      FROM dev JOIN mad USING (event_type)
      GROUP BY dev.event_type
      ORDER BY dev.event_type"""),
    covers = Seq("TS-robust-anomaly"))

  // ------------------------------------------------- mean CI
  // Normal-approximation 95% confidence interval for mean document
  // length per source: mean ± 1.96·s/√n, everything from exact
  // integer moments, sqrt IEEE-exact — the uncertainty column every
  // per-source report should carry.
  private val q373 = QueryDef(
    "q373_mean_ci",
    (s, dir) => {
      val g = t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sxx"))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val se = sqrt(
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1L).cast("double")))
      g.filter(col("n") > 1)
        .select(col("source"), col("n").as("n_docs"),
          mean.as("mean_chars"),
          (mean - lit(1.96d) * se).as("ci_lo"),
          (mean + lit(1.96d) * se).as("ci_hi"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS sx,
          CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source)
      SELECT source, n AS n_docs,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_chars,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(1.96 AS DOUBLE) * sqrt(
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n - 1 AS DOUBLE))) AS ci_lo,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
          + CAST(1.96 AS DOUBLE) * sqrt(
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n - 1 AS DOUBLE))) AS ci_hi
      FROM g WHERE n > 1
      ORDER BY source"""),
    covers = Seq("STAT-ci"))

  // ------------------------------------------------- Kruskal-Wallis
  // Rank-based K-sample location test of order value across market
  // segments: H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1). Ranks are UNIQUE
  // over the (cents, orderkey) total order (the deterministic
  // tie-break stands in for average ranks, stated up front), so every
  // rank sum is an exact long; the 5 rational segment terms fold in
  // fixed segment order.
  private val q374 = QueryDef(
    "q374_kruskal_wallis",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast(LongType)
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"),
          col("o_orderkey"))
      // GLOBAL rank over ALL ORDERS — the round-12 window audit's
      // worst row-scale single-partition window; now the two-phase
      // value-bucketed form (operators/GlobalOrder, bit-identical by
      // GlobalOrderSpec)
      val ranked = graft.operators.GlobalOrder.rowNumber(
          o, col("c"), leadDesc = false,
          Seq(col("c"), col("o_orderkey")), "rk")
        .withColumn("rk", col("rk").cast(LongType))
      val g = ranked.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("rk")).as("rsum"))
        .withColumn("term", col("rsum").cast("double") *
          col("rsum").cast("double") / col("n").cast("double"))
      val tot = g.agg(sum(col("n")).as("nn"),
        aggregate(sort_array(collect_list(struct(col("segment"), col("term")))),
          lit(0.0d), (a, x) => a + x.getField("term")).as("fold"))
      g.crossJoin(broadcast(tot))
        .select(col("segment"), col("n").as("n_orders"),
          (col("rsum").cast("double") / col("n").cast("double"))
            .as("mean_rank"),
          (lit(12.0d) / (col("nn").cast("double") *
            (col("nn") + 1L).cast("double")) * col("fold") -
            lit(3.0d) * (col("nn") + 1L).cast("double")).as("kw_h"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
          o_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey),
      r AS (SELECT segment,
          CAST(row_number() OVER (ORDER BY c, o_orderkey) AS BIGINT) AS rk
        FROM o),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(rk) AS BIGINT) AS rsum
        FROM r GROUP BY segment),
      tm AS (SELECT segment, n, rsum,
          CAST(rsum AS DOUBLE) * CAST(rsum AS DOUBLE) / CAST(n AS DOUBLE)
            AS term
        FROM g),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY segment),
            (a, b) -> a + b) AS fold
        FROM tm)
      SELECT segment, n AS n_orders,
        CAST(rsum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_rank,
        CAST(12 AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))
          * fold - CAST(3 AS DOUBLE) * CAST(nn + 1 AS DOUBLE) AS kw_h
      FROM tm, tot
      ORDER BY segment"""),
    covers = Seq("STAT-kruskal"))

  // ------------------------------------------------- quantile series
  // Order-value quantiles as a monthly time series: P50/P90/P99 in
  // exact cents per month — the percentile control chart, one grouped
  // order-statistic pass.
  private val q375 = QueryDef(
    "q375_monthly_value_quantiles",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast(LongType)
      t(s, dir, "orders")
        .select(date_trunc("month", to_date(col("o_orderdate")))
          .cast("date").as("month"), cents.as("c"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p50_cents"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p90_cents"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("p99_cents"))
        .orderBy("month")
    },
    Some("""SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE))
          AS DATE) AS month,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p50_cents,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p90_cents,
        CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
          AS BIGINT) AS p99_cents
      FROM orders
      GROUP BY month
      ORDER BY month"""),
    covers = Seq("TS-quantile-series"))

  // ------------------------------------------------- stratified independence
  // Is (lang ⫫ source) WITHIN each length band? Per band the
  // chi-square statistic over observed cells against the within-band
  // marginal expectation — Simpson's-paradox insurance for the q206
  // global test. Every cell term is rational from exact counts and
  // folds in fixed (lang, source) order per band.
  private val q377 = QueryDef(
    "q377_stratified_independence",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(expr("n_chars DIV 400").as("band"), col("lang"),
          col("source"))
      val cells = d.groupBy("band", "lang", "source")
        .agg(count(lit(1)).as("o"))
      val rows = d.groupBy("band", "lang").agg(count(lit(1)).as("rt"))
      val cols = d.groupBy("band", "source").agg(count(lit(1)).as("ct"))
      val tots = d.groupBy("band").agg(count(lit(1)).as("tt"))
      val terms = cells.join(rows, Seq("band", "lang"))
        .join(cols, Seq("band", "source"))
        .join(tots, Seq("band"))
        .withColumn("e", col("rt").cast("double") * col("ct").cast("double") /
          col("tt").cast("double"))
        .withColumn("term",
          (col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e"))
      terms.groupBy("band")
        .agg(count(lit(1)).as("n_cells"), first(col("tt")).as("n_docs"),
          aggregate(sort_array(collect_list(
            struct(col("lang"), col("source"), col("term")))),
            lit(0.0d), (a, x) => a + x.getField("term")).as("chi2"))
        .orderBy("band")
    },
    Some("""WITH d AS (SELECT n_chars // 400 AS band, lang, source
          FROM documents),
      cells AS (SELECT band, lang, source, CAST(COUNT(*) AS BIGINT) AS o
                FROM d GROUP BY band, lang, source),
      r AS (SELECT band, lang, CAST(COUNT(*) AS BIGINT) AS rt
            FROM d GROUP BY band, lang),
      c AS (SELECT band, source, CAST(COUNT(*) AS BIGINT) AS ct
            FROM d GROUP BY band, source),
      tt AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS tt
             FROM d GROUP BY band),
      terms AS (SELECT cells.band, cells.lang, cells.source,
          (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(tt AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(tt AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE))
            AS term, tt
        FROM cells
        JOIN r USING (band, lang)
        JOIN c USING (band, source)
        JOIN tt USING (band))
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_cells,
        MIN(tt) AS n_docs,
        CAST(0 AS DOUBLE) + list_reduce(list(term ORDER BY lang, source),
          (a, b) -> a + b) AS chi2
      FROM terms GROUP BY band
      ORDER BY band"""),
    covers = Seq("STAT-stratified-chi2"))

  // ------------------------------------------------- MoM growth
  // Month-over-month revenue growth: exact DECIMAL monthly revenue,
  // growth = (m − prev)/prev only when the previous CALENDAR month
  // exists (a lag over a gappy series would silently compare across
  // holes). One window over the month order.
  private val q381 = QueryDef(
    "q381_mom_growth",
    (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", to_date(col("o_orderdate")))
          .cast("date").as("month"))
        .agg(sum(dec(col("o_totalprice")))
          .cast(DecimalType(38, 2)).as("rev"),
          count(lit(1)).as("n_orders"))
      val w = Window.orderBy("month")
      monthly
        .withColumn("prev_rev", lag(col("rev"), 1).over(w))
        .withColumn("prev_m", lag(col("month"), 1).over(w))
        .select(col("month"), col("n_orders"),
          col("rev").cast("double").as("revenue"),
          when(col("prev_m") === add_months(col("month"), -1),
            (col("rev") - col("prev_rev")).cast("double") /
              col("prev_rev").cast("double"))
            .otherwise(lit(null)).as("mom_growth"))
        .orderBy("month")
    },
    Some("""WITH monthly AS (SELECT
          CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
            AS month,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS rev,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY month),
      l AS (SELECT month, n_orders, rev,
          lag(rev) OVER (ORDER BY month) AS prev_rev,
          lag(month) OVER (ORDER BY month) AS prev_m
        FROM monthly)
      SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
        CASE WHEN prev_m = month - INTERVAL 1 MONTH
          THEN CAST(rev - prev_rev AS DOUBLE) / CAST(prev_rev AS DOUBLE)
        END AS mom_growth
      FROM l ORDER BY month"""),
    covers = Seq("TS-mom-growth"))

  // ------------------------------------------------- top-k stability
  // Would the top-20 token list survive resampling? Compute it
  // independently on each md5-parity half of the corpus and report
  // the overlap — the stability check that separates robust
  // statistics from noise. Set overlap via a join of two bounded
  // top-k lists.
  private val q387 = QueryDef(
    "q387_topk_stability",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("arm",
          (conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast(LongType) % 2).cast(LongType))
      def topk(arm: Int): DataFrame = d.filter(col("arm") === arm)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("f"))
        .orderBy(desc("f"), asc("term")).limit(20)
        .select(col("term"))
      val a = topk(0)
      val b = topk(1)
      val inter = a.join(b, Seq("term")).count()
      import s.implicits._
      Seq((20L, inter, inter.toDouble / (40 - inter).toDouble))
        .toDF("k", "n_overlap", "jaccard")
    },
    Some("""WITH arm AS (SELECT text,
          CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 2
            AS BIGINT) AS arm
        FROM documents),
      ta AS (SELECT term FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM arm
          WHERE arm = 0)
        GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 20),
      tb AS (SELECT term FROM (
          SELECT unnest(string_split(text, ' ')) AS term FROM arm
          WHERE arm = 1)
        GROUP BY term ORDER BY COUNT(*) DESC, term LIMIT 20),
      i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM ta JOIN tb USING (term))
      SELECT CAST(20 AS BIGINT) AS k, n_overlap,
        CAST(n_overlap AS DOUBLE) / CAST(40 - n_overlap AS DOUBLE)
          AS jaccard
      FROM i"""),
    covers = Seq("STAT-topk-stability"))

  // ------------------------------------------------- seasonal autocorr
  // Lag-24h autocorrelation of the hourly volume series per event
  // type — does the daily cycle actually repeat? The series joins
  // itself at exactly +24 hours (epoch-hour integers), the
  // correlation comes from the q322 integer-sufficient-statistics
  // pattern over the matched pairs.
  private val q388 = QueryDef(
    "q388_hourly_seasonal_autocorr",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("x"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val j = hourly.as("a").join(hourly.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.h") === col("a.h") + 24)
        .select(col("a.event_type").as("event_type"),
          col("a.x").as("x"), col("b.x").as("y"))
      val g = j.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("event_type"), col("n").as("n_pairs"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("autocorr_24h"))
        .orderBy("event_type")
    },
    Some("""WITH hourly AS (SELECT event_type,
          epoch_us(ts) // 3600000000 AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, h),
      j AS (SELECT a.event_type, a.x AS x, b.x AS y
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND b.h = a.h + 24),
      g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM j GROUP BY event_type),
      f AS (SELECT event_type, n,
          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT event_type, n AS n_pairs,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE)))
          AS autocorr_24h
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY event_type"""),
    covers = Seq("TS-seasonal-autocorr"))

  // ------------------------------------------------- Fano factor
  // Poisson sanity check on daily order arrivals per segment: the
  // variance-to-mean ratio (n·Σx² − S²)/(n·S) from exact integer
  // moments — ≈1 for Poisson arrivals, ≫1 for bursty/overdispersed
  // demand (which breaks naive capacity planning).
  private val q391 = QueryDef(
    "q391_fano_factor",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy("segment")
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .select(col("segment"), col("n_days"),
          (col("sx").cast("double") / col("n_days").cast("double"))
            .as("mean_daily"),
          ((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n_days") * col("sx")).cast("double")).as("fano"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c_mktsegment AS segment,
          CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY segment, d),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY segment)
      SELECT segment, n_days,
        CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
        CAST(n_days * sxx - sx * sx AS DOUBLE)
          / CAST(n_days * sx AS DOUBLE) AS fano
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-fano"))

  // ------------------------------------------------- longest quiet period
  // Outage / data-loss detector: per event type, the longest run of
  // consecutive missing days between active days (max lag gap − 1)
  // and when it started — one lag window over the active-day set, no
  // calendar spine needed.
  private val q392 = QueryDef(
    "q392_longest_quiet_period",
    (s, dir) => {
      val days = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d")).distinct()
      val w = Window.partitionBy("event_type").orderBy("d")
      val gaps = days
        .withColumn("prev", lag(col("d"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("quiet", datediff(col("d"), col("prev")).cast(LongType) - 1L)
      val pick = Window.partitionBy("event_type")
        .orderBy(desc("quiet"), asc("d"))
      gaps.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("event_type"), col("quiet").as("max_quiet_days"),
          col("prev").as("quiet_started_after"),
          col("d").as("resumed_on"))
        .orderBy("event_type")
    },
    Some("""WITH days AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS d
          FROM events),
      g AS (SELECT event_type, d,
          lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM days),
      q AS (SELECT event_type, d, prev,
          CAST(d - prev AS BIGINT) - 1 AS quiet
        FROM g WHERE prev IS NOT NULL),
      pick AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY quiet DESC, d) AS rn FROM q)
      SELECT event_type, quiet AS max_quiet_days,
        prev AS quiet_started_after, d AS resumed_on
      FROM pick WHERE rn = 1
      ORDER BY event_type"""),
    covers = Seq("TS-quiet-period"))

  // ------------------------------------------------- rank divergence
  // Days where order VOLUME and order REVENUE tell different stories:
  // both daily series ranked (unique (value, date) orders), the
  // census of days whose rank difference exceeds a quarter of the
  // calendar — the volume/value decoupling check behind "record
  // traffic, flat revenue" surprises.
  private val q394 = QueryDef(
    "q394_rank_divergence_days",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice")))
            .cast(DecimalType(38, 2)).as("rev"))
      val wN = Window.orderBy(col("n"), col("d"))
      val wR = Window.orderBy(col("rev"), col("d"))
      val ranked = daily
        .withColumn("rk_n", row_number().over(wN).cast(LongType))
        .withColumn("rk_rev", row_number().over(wR).cast(LongType))
        .withColumn("rk_gap", abs(col("rk_n") - col("rk_rev")))
      val tot = ranked.agg(count(lit(1)).as("nd"))
      ranked.crossJoin(broadcast(tot))
        .agg(first(col("nd")).as("n_days"),
          max(col("rk_gap")).as("max_rank_gap"),
          sum(when(col("rk_gap") * 4 > col("nd"), 1L).otherwise(0L))
            .as("n_divergent"))
        .select(col("n_days"), col("max_rank_gap"), col("n_divergent"),
          (col("n_divergent").cast("double") / col("n_days").cast("double"))
            .as("divergent_rate"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS rev
        FROM orders GROUP BY d),
      r AS (SELECT d,
          CAST(row_number() OVER (ORDER BY n, d) AS BIGINT) AS rk_n,
          CAST(row_number() OVER (ORDER BY rev, d) AS BIGINT) AS rk_rev
        FROM daily),
      g AS (SELECT abs(rk_n - rk_rev) AS rk_gap FROM r),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM g)
      SELECT nd AS n_days, MAX(rk_gap) AS max_rank_gap,
        CAST(SUM(CASE WHEN rk_gap * 4 > nd THEN 1 ELSE 0 END) AS BIGINT)
          AS n_divergent,
        CAST(SUM(CASE WHEN rk_gap * 4 > nd THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(nd AS DOUBLE) AS divergent_rate
      FROM g, tot GROUP BY nd"""),
    covers = Seq("STAT-rank-divergence"))

  // ------------------------------------------------- Mann-Kendall trend
  // Nonparametric monotone-trend test on the daily order-count series:
  // S = Σ_{i<j} sign(c_j − c_i) over day pairs, tie-corrected variance
  // var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, continuity-corrected
  // Z = (S∓1)/√var. Integer arithmetic until the final ratio. The
  // pair join is over DAYS, not rows — the calendar is fixed, so the
  // O(days²) pair count does NOT grow with scale factor; the only
  // scale-dependent stage is the first groupBy.
  private val q399 = QueryDef(
    "q399_mann_kendall",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("c"))
      val a = daily.select(col("d").as("da"), col("c").as("ca"))
      val b = daily.select(col("d").as("db"), col("c").as("cb"))
      val sPairs = a.join(b, col("da") < col("db"))
        .agg(coalesce(sum(signum(col("cb") - col("ca")).cast(LongType)),
          lit(0L)).as("s_stat"))
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("c").agg(count(lit(1)).as("tie"))
        .agg(coalesce(sum(col("tie") * (col("tie") - 1L)
          * (lit(2L) * col("tie") + 5L)), lit(0L)).as("tie_term"))
      sPairs.crossJoin(broadcast(nDays)).crossJoin(broadcast(ties))
        .select(col("n_days"), col("s_stat"),
          ((col("n_days") * (col("n_days") - 1L)
            * (lit(2L) * col("n_days") + 5L) - col("tie_term"))
            .cast("double") / 18.0d).as("var_s"))
        .withColumn("z_stat",
          when(col("var_s") <= 0.0d, 0.0d)
            .when(col("s_stat") > 0L,
              (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0L,
              (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
            .otherwise(0.0d))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY d),
      s AS (SELECT COALESCE(CAST(SUM(CAST(sign(b.c - a.c) AS BIGINT))
            AS BIGINT), 0) AS s_stat
        FROM daily a JOIN daily b ON a.d < b.d),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
      ties AS (SELECT COALESCE(CAST(SUM(tie * (tie - 1) * (2 * tie + 5))
            AS BIGINT), 0) AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tie
              FROM daily GROUP BY c)),
      v AS (SELECT n_days, s_stat,
          CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
            AS DOUBLE) / 18.0 AS var_s
        FROM s, n, ties)
      SELECT n_days, s_stat, var_s,
        CASE WHEN var_s <= 0.0 THEN 0.0
             WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END AS z_stat
      FROM v"""),
    covers = Seq("STAT-mann-kendall"))

  // ------------------------------------------------- CUPED adjustment
  // Experimentation-platform variance reduction: split the calendar at
  // its midpoint, x = a customer's pre-period spend (cents), y = the
  // post-period spend; per segment, θ = cov(x,y)/var(x) from exact
  // integer sums and the fraction of metric variance CUPED removes
  // (ρ² = corr²). One narrow scan + one per-customer shuffle; the
  // moment sums are mergeable partials, so the plan scales like any
  // grouped aggregate.
  private val q400 = QueryDef(
    "q400_cuped",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        (dec(col("o_totalprice")) * 100)
          .cast(LongType).as("cents"))
      val bounds = o.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(date_add(col("d0"),
          (datediff(col("d1"), col("d0")) / 2).cast("int")).as("mid"))
      val perCust = o.crossJoin(broadcast(bounds))
        .groupBy("o_custkey")
        .agg(sum(when(col("d") < col("mid"), col("cents")).otherwise(0L))
          .as("x"),
          sum(when(col("d") >= col("mid"), col("cents")).otherwise(0L))
            .as("y"))
      val seg = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = perCust
        .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec38(col("x")) * dec38(col("y"))).as("sxy"),
          sum(dec38(col("x")) * dec38(col("x"))).as("sxx"),
          sum(dec38(col("y")) * dec38(col("y"))).as("syy"))
      val num = dec38(col("n_cust")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_cust")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_cust")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .withColumn("corr", col("num").cast("double") /
          (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
        .select(col("segment"), col("n_cust"),
          (col("num").cast("double") / col("den1").cast("double")).as("theta"),
          (col("corr") * col("corr")).as("var_reduction"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      bounds AS (SELECT MIN(d) + CAST(CAST(MAX(d) - MIN(d) AS BIGINT) / 2
          AS INTEGER) AS mid FROM o),
      pc AS (SELECT o_custkey,
          CAST(SUM(CASE WHEN d < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
          CAST(SUM(CASE WHEN d >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
        FROM o, bounds GROUP BY o_custkey),
      g AS (SELECT c_mktsegment AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
          CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM pc JOIN customer ON o_custkey = c_custkey
        GROUP BY segment),
      f AS (SELECT segment, n_cust,
          CAST(n_cust AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_cust AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_cust AS HUGEINT) * syy - sy * sy AS den2
        FROM g),
      r AS (SELECT segment, n_cust,
          CAST(num AS DOUBLE) / CAST(den1 AS DOUBLE) AS theta,
          CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
            * sqrt(CAST(den2 AS DOUBLE))) AS corr
        FROM f WHERE den1 > 0 AND den2 > 0)
      SELECT segment, n_cust, theta, corr * corr AS var_reduction
      FROM r ORDER BY segment"""),
    covers = Seq("STAT-cuped"))

  // ------------------------------------------------- robust shape stats
  // Quantile-based distribution shape per market segment: Bowley
  // skewness (q1,q2,q3) and Moors kurtosis (octiles) of order value —
  // outlier-robust complements to the moment-based q143. All octiles
  // are percentile_disc picks of exact cents (actual data elements,
  // no interpolation), so every ratio is deterministic.
  private val q402 = QueryDef(
    "q402_robust_shape",
    (s, dir) => {
      val cents = (dec(col("o_totalprice")) * 100)
        .cast(LongType)
      // all seven octile order statistics share ONE distinct-value
      // rank-select pass (graft.operators.ExactQuantiles, bit-identical
      // to percentile_disc) instead of seven per-group value buffers
      val src = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("cents"))
      val g = graft.operators.ExactQuantiles.disc(
          src, Seq("segment"), "cents",
          Seq(("e1d", 0.125), ("q1d", 0.25), ("e3d", 0.375), ("q2d", 0.5),
            ("e5d", 0.625), ("q3d", 0.75), ("e7d", 0.875)))
        .select(col("segment"), col("__group_n").as("n_orders"),
          col("e1d").cast(LongType).as("e1"), col("q1d").cast(LongType).as("q1"),
          col("e3d").cast(LongType).as("e3"), col("q2d").cast(LongType).as("q2"),
          col("e5d").cast(LongType).as("e5"), col("q3d").cast(LongType).as("q3"),
          col("e7d").cast(LongType).as("e7"))
      g.select(col("segment"), col("n_orders"), col("q1"), col("q2"),
          col("q3"),
          when(col("q3") > col("q1"),
            (col("q3") - lit(2L) * col("q2") + col("q1")).cast("double")
              / (col("q3") - col("q1")).cast("double"))
            .otherwise(0.0d).as("bowley_skew"),
          when(col("e5") =!= col("e3"),
            ((col("e7") - col("e5")) + (col("e3") - col("e1"))).cast("double")
              / (col("e5") - col("e3")).cast("double"))
            .otherwise(0.0d).as("moors_kurtosis"))
        .orderBy("segment")
    },
    Some("""WITH src AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(percentile_disc(0.125) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e1,
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q1,
          CAST(percentile_disc(0.375) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e3,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q2,
          CAST(percentile_disc(0.625) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e5,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS q3,
          CAST(percentile_disc(0.875) WITHIN GROUP (ORDER BY cents) AS BIGINT) AS e7
        FROM src GROUP BY segment)
      SELECT segment, n_orders, q1, q2, q3,
        CASE WHEN q3 > q1 THEN
          CAST(q3 - 2 * q2 + q1 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
          ELSE 0.0 END AS bowley_skew,
        CASE WHEN e5 <> e3 THEN
          CAST((e7 - e5) + (e3 - e1) AS DOUBLE) / CAST(e5 - e3 AS DOUBLE)
          ELSE 0.0 END AS moors_kurtosis
      FROM g ORDER BY segment"""),
    covers = Seq("STAT-robust-shape"))

  // Max over doubles is order-free, so MAX(|x−mean|) stays deterministic.

  // ------------------------------------------------- Grubbs' statistic
  // Extreme studentized deviate per market segment: G = max|x−x̄|/s
  // over order values — "is the worst order value a statistical
  // outlier". Moments are exact integer sums; the per-row deviation
  // is one correctly-rounded double subtraction and MAX over doubles
  // is associative, so the statistic is partitioning-independent.
  private val q404 = QueryDef(
    "q404_grubbs_outlier",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .filter(col("n") >= 3)
        .withColumn("mean_c",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("sd_c",
          sqrt((dec38(col("n")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n") * (col("n") - 1L)).cast("double")))
      o.join(broadcast(g), Seq("segment"))
        .groupBy("segment")
        .agg(max(col("n")).as("n_orders"),
          max(col("mean_c")).as("mean_cents"),
          max(col("sd_c")).as("sd_cents"),
          max(abs(col("c").cast("double") - col("mean_c"))).as("max_dev"))
        .withColumn("g_stat", col("max_dev") / col("sd_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment HAVING COUNT(*) >= 3),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS sd_c
        FROM g)
      SELECT o.segment, MAX(n) AS n_orders, MAX(mean_c) AS mean_cents,
        MAX(sd_c) AS sd_cents,
        MAX(abs(CAST(c AS DOUBLE) - mean_c)) AS max_dev,
        MAX(abs(CAST(c AS DOUBLE) - mean_c)) / MAX(sd_c) AS g_stat
      FROM o JOIN m ON o.segment = m.segment
      GROUP BY o.segment ORDER BY o.segment"""),
    covers = Seq("STAT-grubbs"))

  // ------------------------------------------------- natural breaks
  // Largest-gap 1-D binning (Jenks-style natural breaks without the
  // iterative variance pass): the 4 widest gaps between consecutive
  // DISTINCT order values split the distribution into 5 organic
  // bands. Gaps are exact integer differences with (gap, value) tie
  // order; band assignment is a 4-row broadcast join. The distinct
  // value list is the only single-partition window — bounded by the
  // value-domain size, not the row count.
  private val q406 = QueryDef(
    "q406_natural_breaks",
    (s, dir) => {
      val v = t(s, dir, "orders").select(cents.as("c")).distinct()
      val gaps = v.withColumn("prev", lag(col("c"), 1).over(Window.orderBy("c")))
        .filter(col("prev").isNotNull)
        .withColumn("gap", col("c") - col("prev"))
      val breaks = gaps
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("gap"), asc("c"))))
        .filter(col("rk") <= 4)
        .select(col("c").as("brk"))
      val perVal = t(s, dir, "orders").select(cents.as("c"))
        .groupBy("c").agg(count(lit(1)).as("nr"))
      perVal.join(broadcast(breaks), col("brk") <= col("c"), "left")
        .groupBy("c", "nr")
        .agg(count(col("brk")).as("band"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_values"), sum(col("nr")).as("n_orders"),
          min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"))
        .orderBy("band")
    },
    Some("""WITH v AS (SELECT
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
          CAST(COUNT(*) AS BIGINT) AS nr
        FROM orders GROUP BY 1),
      gaps AS (SELECT c, c - lag(c) OVER (ORDER BY c) AS gap FROM v),
      brk AS (SELECT c AS brk FROM (
          SELECT c, row_number() OVER (ORDER BY gap DESC, c) AS rk
          FROM gaps WHERE gap IS NOT NULL) WHERE rk <= 4),
      banded AS (SELECT v.c, v.nr,
          CAST(COUNT(b.brk) AS BIGINT) AS band
        FROM v LEFT JOIN brk b ON b.brk <= v.c
        GROUP BY v.c, v.nr)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_values,
        CAST(SUM(nr) AS BIGINT) AS n_orders,
        MIN(c) AS lo_cents, MAX(c) AS hi_cents
      FROM banded GROUP BY band ORDER BY band"""),
    covers = Seq("STAT-natural-breaks"))

  // ------------------------------------------------- A/B power analysis
  // Minimum detectable effect per segment for a 50/50 order-value
  // experiment at α=0.05, power 80%: MDE = (z_{α/2}+z_β)·s·√(2/n),
  // the pre-experiment companion to q400 (CUPED) and q346 (SRM).
  // Variance from exact integer moments; the z-constant is a fixed
  // literal on both sides.
  private val q408 = QueryDef(
    "q408_ab_power_mde",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .filter(col("n") >= 2)
        .withColumn("mean_cents",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("sd_cents",
          sqrt((dec38(col("n")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n") * (col("n") - 1L)).cast("double")))
        .withColumn("mde_cents", lit(2.801585d) * col("sd_cents")
          * sqrt(lit(2.0d) / col("n").cast("double")))
        .select(col("segment"), col("n").as("n_orders"),
          col("mean_cents"), col("sd_cents"), col("mde_cents"),
          (col("mde_cents") / col("mean_cents")).as("mde_rel"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment HAVING COUNT(*) >= 2),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            / CAST(n * (n - 1) AS DOUBLE)) AS sd_cents
        FROM g),
      f AS (SELECT segment, n AS n_orders, mean_cents, sd_cents,
          CAST(2.801585 AS DOUBLE) * sd_cents
            * sqrt(CAST(2.0 AS DOUBLE) / CAST(n AS DOUBLE)) AS mde_cents
        FROM m)
      SELECT segment, n_orders, mean_cents, sd_cents, mde_cents,
        mde_cents / mean_cents AS mde_rel
      FROM f ORDER BY segment"""),
    covers = Seq("STAT-power-mde"))

  // ------------------------------------------------- multi-scale variance
  // Wavelet-flavored energy spectrum of the daily revenue series:
  // bucket days at 7/14/28/56-day scales (complete buckets only) and
  // report each scale's variance of bucket totals — separates
  // short-term noise from long-horizon drift without any transform
  // library. Bucket sums are exact cents; moments close per scale.
  private val q409 = QueryDef(
    "q409_scale_variance",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents).as("y"))
      val b = daily.agg(min(col("d")).as("d0"),
        (datediff(max(col("d")), min(col("d"))) + 1).cast(LongType).as("span"))
      val idx = daily.crossJoin(broadcast(b))
        .select(datediff(col("d"), col("d0")).cast(LongType).as("tt"),
          col("y"), col("span"))
      val scaled = idx.select(explode(expr(
        "transform(array(7L, 14L, 28L, 56L), " +
          "w -> named_struct('scale', w, 'bucket', CAST(tt / w AS BIGINT), " +
          "'nb', CAST(span / w AS BIGINT)))")).as("p"), col("y"))
        .select(col("p.scale"), col("p.bucket"), col("p.nb"), col("y"))
        .filter(col("bucket") < col("nb"))
      val buckets = scaled.groupBy("scale", "bucket")
        .agg(sum(col("y")).as("by"))
      buckets.groupBy("scale")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("by")).as("sx"),
          sum(dec38(col("by")) * dec38(col("by"))).as("sxx"))
        .filter(col("n_buckets") >= 2)
        .select(col("scale"), col("n_buckets"),
          (col("sx").cast("double") / col("n_buckets").cast("double"))
            .as("mean_bucket_cents"),
          ((dec38(col("n_buckets")) * col("sxx")
            - dec38(col("sx")) * dec38(col("sx"))).cast("double")
            / (col("n_buckets") * (col("n_buckets") - 1L)).cast("double"))
            .as("var_bucket"))
        .orderBy("scale")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY d),
      b AS (SELECT MIN(d) AS d0,
          CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS span FROM daily),
      idx AS (SELECT CAST(d - d0 AS BIGINT) AS tt, y, span FROM daily, b),
      scaled AS (SELECT w.scale, tt // w.scale AS bucket, y
        FROM idx, (SELECT CAST(unnest([7, 14, 28, 56]) AS BIGINT) AS scale) w
        WHERE tt // w.scale < span // w.scale),
      buckets AS (SELECT scale, bucket, CAST(SUM(y) AS BIGINT) AS by
        FROM scaled GROUP BY scale, bucket),
      g AS (SELECT scale, CAST(COUNT(*) AS BIGINT) AS n_buckets,
          CAST(SUM(by) AS HUGEINT) AS sx,
          CAST(SUM(CAST(by AS HUGEINT) * by) AS HUGEINT) AS sxx
        FROM buckets GROUP BY scale HAVING COUNT(*) >= 2)
      SELECT scale, n_buckets,
        CAST(sx AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean_bucket_cents,
        CAST(n_buckets * sxx - sx * sx AS DOUBLE)
          / CAST(n_buckets * (n_buckets - 1) AS DOUBLE) AS var_bucket
      FROM g ORDER BY scale"""),
    covers = Seq("STAT-scale-variance"))

  // ------------------------------------------------- Cohen's d matrix
  // Standardized effect size between every market-segment pair:
  // d = (x̄_a − x̄_b)/s_pooled on order value — the practical-
  // significance companion to q228's Welch t (which only answers "is
  // there an effect", not "how big"). Moments per segment are exact;
  // the 10-pair matrix closes driver-free via a self-join on
  // segment order.
  private val q410 = QueryDef(
    "q410_cohens_d_matrix",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("sxx"))
        .withColumn("mean_c",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("ss", (dec38(col("n")) * col("sxx")
          - dec38(col("sx")) * dec38(col("sx"))).cast("double")
          / col("n").cast("double"))
      val a = g.select(col("segment").as("seg_a"), col("n").as("na"),
        col("mean_c").as("ma"), col("ss").as("ssa"))
      val b = g.select(col("segment").as("seg_b"), col("n").as("nb"),
        col("mean_c").as("mb"), col("ss").as("ssb"))
      a.join(b, col("seg_a") < col("seg_b"))
        .withColumn("pooled_sd", sqrt((col("ssa") + col("ssb"))
          / (col("na") + col("nb") - 2L).cast("double")))
        .select(col("seg_a"), col("seg_b"),
          (col("na") + col("nb")).as("n_total"),
          ((col("ma") - col("mb")) / col("pooled_sd")).as("cohens_d"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sxx
        FROM o GROUP BY segment),
      m AS (SELECT segment, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
          CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
            / CAST(n AS DOUBLE) AS ss
        FROM g)
      SELECT a.segment AS seg_a, b.segment AS seg_b,
        a.n + b.n AS n_total,
        (a.mean_c - b.mean_c)
          / sqrt((a.ss + b.ss) / CAST(a.n + b.n - 2 AS DOUBLE)) AS cohens_d
      FROM m a JOIN m b ON a.segment < b.segment
      ORDER BY seg_a, seg_b"""),
    covers = Seq("STAT-cohens-d"))

  // ------------------------------------------------- design effect
  // Kish's design effect of value-weighted sampling per ship mode:
  // DEFF = n·Σw²/(Σw)² with w = line quantity — how much effective
  // sample size a quantity-weighted draw loses to weight variance.
  // Pure integer moments, one division.
  private val q411 = QueryDef(
    "q411_design_effect",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast(LongType).as("w"))
      li.groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"))
        .select(col("flag"), col("n"),
          (col("sw").cast("double") / col("n").cast("double"))
            .as("mean_weight"),
          ((dec38(col("n")) * dec38(col("sww"))).cast("double")
            / (dec38(col("sw")) * dec38(col("sw"))).cast("double"))
            .as("deff"))
        .withColumn("effective_n",
          col("n").cast("double") / col("deff"))
        .orderBy("flag")
    },
    Some("""WITH g AS (SELECT l_returnflag AS flag,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sw,
          CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS HUGEINT) AS sww
        FROM lineitem GROUP BY l_returnflag)
      SELECT flag, n,
        CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) AS mean_weight,
        CAST(n * sww AS DOUBLE) / CAST(sw * sw AS DOUBLE) AS deff,
        CAST(n AS DOUBLE)
          / (CAST(n * sww AS DOUBLE) / CAST(sw * sw AS DOUBLE))
          AS effective_n
      FROM g ORDER BY flag"""),
    covers = Seq("STAT-design-effect"))

  // ------------------------------------------------- sales sparsity
  // Catalog-health census per brand: active months vs the calendar
  // span, and the longest consecutive dead stretch — the (brand ×
  // month) cell-sparsity view that q392's per-type day gaps don't
  // give. Month indices are exact integers; the gap scan is one
  // partitioned lag window at brand × month cardinality.
  private val q412 = QueryDef(
    "q412_sales_sparsity",
    (s, dir) => {
      val sold = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          (year(to_date(col("l_shipdate"))) * 12
            + month(to_date(col("l_shipdate"))) - 1).cast(LongType).as("m"))
        .distinct()
      val span = sold.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      val w = Window.partitionBy("brand").orderBy("m")
      val gaps = sold.withColumn("prev", lag(col("m"), 1).over(w))
      gaps.crossJoin(broadcast(span))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_active_months"),
          max(col("m1") - col("m0") + 1L).as("n_months_span"),
          coalesce(max(col("m") - col("prev") - 1L), lit(0L))
            .as("max_gap_months"))
        .withColumn("sparsity", lit(1.0d)
          - col("n_active_months").cast("double")
          / col("n_months_span").cast("double"))
        .orderBy("brand")
    },
    Some("""WITH sold AS (SELECT DISTINCT p_brand AS brand,
          CAST(year(CAST(l_shipdate AS DATE)) * 12
            + month(CAST(l_shipdate AS DATE)) - 1 AS BIGINT) AS m
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      span AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM sold),
      gaps AS (SELECT brand, m,
          lag(m) OVER (PARTITION BY brand ORDER BY m) AS prev
        FROM sold)
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_active_months,
        CAST(MAX(m1 - m0 + 1) AS BIGINT) AS n_months_span,
        CAST(COALESCE(MAX(m - prev - 1), 0) AS BIGINT) AS max_gap_months,
        1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(MAX(m1 - m0 + 1) AS DOUBLE)
          AS sparsity
      FROM gaps, span GROUP BY brand ORDER BY brand"""),
    covers = Seq("DQ-sales-sparsity"))

  // ------------------------------------------------- two-proportion z
  // Is a segment's urgent-order share different from the REST of the
  // book? Classic two-proportion z with pooled variance, one row per
  // segment vs its complement. Counts are exact; the z closes in a
  // fixed double expression (sqrt is IEEE-exact).
  private val q414 = QueryDef(
    "q414_two_proportion_z",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_orderpriority").startsWith("1").cast(LongType).as("urgent"))
      val g = o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("urgent")).as("k"))
      val tot = g.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
      g.crossJoin(broadcast(tot))
        .withColumn("p_seg", col("k").cast("double") / col("n").cast("double"))
        .withColumn("p_rest", (col("kk") - col("k")).cast("double")
          / (col("nn") - col("n")).cast("double"))
        .withColumn("p_pool", col("kk").cast("double") / col("nn").cast("double"))
        .withColumn("z_stat", (col("p_seg") - col("p_rest"))
          / sqrt(col("p_pool") * (lit(1.0d) - col("p_pool"))
            * (lit(1.0d) / col("n").cast("double")
              + lit(1.0d) / (col("nn") - col("n")).cast("double"))))
        .select(col("segment"), col("n").as("n_orders"), col("k").as("n_urgent"),
          col("p_seg"), col("p_rest"), col("z_stat"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS urgent
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(urgent) AS BIGINT) AS k
        FROM o GROUP BY segment),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(k) AS BIGINT) AS kk FROM g),
      f AS (SELECT segment, n, k, nn, kk,
          CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_seg,
          CAST(kk - k AS DOUBLE) / CAST(nn - n AS DOUBLE) AS p_rest,
          CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS p_pool
        FROM g, tot)
      SELECT segment, n AS n_orders, k AS n_urgent, p_seg, p_rest,
        (p_seg - p_rest) / sqrt(p_pool * (1.0 - p_pool)
          * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(nn - n AS DOUBLE)))
          AS z_stat
      FROM f ORDER BY segment"""),
    covers = Seq("STAT-two-proportion"))

  // ------------------------------------------------- max influence
  // Leave-one-out sensitivity: how far does each segment's mean move
  // when its single largest order is removed — the influence audit
  // that tells whether q404's outlier actually matters. Everything is
  // a ratio of exact sums; the two means subtract in one fixed
  // expression.
  private val q415 = QueryDef(
    "q415_max_influence",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), cents.as("c"))
      o.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          max(col("c")).as("max_c"))
        .filter(col("n") >= 2)
        .withColumn("mean_all",
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("mean_loo", (col("sx") - col("max_c")).cast("double")
          / (col("n") - 1L).cast("double"))
        .select(col("segment"), col("n").as("n_orders"), col("max_c"),
          col("mean_all"), col("mean_loo"),
          (col("mean_all") - col("mean_loo")).as("influence_cents"),
          ((col("mean_all") - col("mean_loo")) / col("mean_all"))
            .as("influence_rel"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS HUGEINT) AS sx, MAX(c) AS max_c
        FROM o GROUP BY segment HAVING COUNT(*) >= 2),
      m AS (SELECT segment, n, max_c,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_all,
          CAST(sx - max_c AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mean_loo
        FROM g)
      SELECT segment, n AS n_orders, max_c, mean_all, mean_loo,
        mean_all - mean_loo AS influence_cents,
        (mean_all - mean_loo) / mean_all AS influence_rel
      FROM m ORDER BY segment"""),
    covers = Seq("STAT-influence"))

  // ------------------------------------------------- order-size memory
  // Within-customer serial correlation: does a big order predict the
  // NEXT order's size? Lag-1 (previous, current) value pairs per
  // customer via one partitioned window, pooled Pearson r per segment
  // from exact integer moments — the behavioral-memory statistic.
  private val q416 = QueryDef(
    "q416_order_size_memory",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"), cents.as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
      val seg = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val g = o.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("prev")).as("sx"), sum(col("c")).as("sy"),
          sum(dec38(col("prev")) * dec38(col("c"))).as("sxy"),
          sum(dec38(col("prev")) * dec38(col("prev"))).as("sxx"),
          sum(dec38(col("c")) * dec38(col("c"))).as("syy"))
      val num = dec38(col("n_pairs")) * col("sxy") - dec38(col("sx")) * dec38(col("sy"))
      val den1 = dec38(col("n_pairs")) * col("sxx") - dec38(col("sx")) * dec38(col("sx"))
      val den2 = dec38(col("n_pairs")) * col("syy") - dec38(col("sy")) * dec38(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("segment"), col("n_pairs"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("lag1_corr"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
          o_orderkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders),
      l AS (SELECT o_custkey, c,
          lag(c) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS prev
        FROM o),
      p AS (SELECT c_mktsegment AS segment, prev, c
        FROM l JOIN customer ON o_custkey = c_custkey
        WHERE prev IS NOT NULL),
      g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(prev) AS HUGEINT) AS sx, CAST(SUM(c) AS HUGEINT) AS sy,
          CAST(SUM(CAST(prev AS HUGEINT) * c) AS HUGEINT) AS sxy,
          CAST(SUM(CAST(prev AS HUGEINT) * prev) AS HUGEINT) AS sxx,
          CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS syy
        FROM p GROUP BY segment),
      f AS (SELECT segment, n_pairs,
          CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS num,
          CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS den1,
          CAST(n_pairs AS HUGEINT) * syy - sy * sy AS den2
        FROM g)
      SELECT segment, n_pairs,
        CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE))
          * sqrt(CAST(den2 AS DOUBLE))) AS lag1_corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY segment"""),
    covers = Seq("STAT-serial-corr"))

  // The KMV theta-sketch surface ([[graft.functions.KmvMinK]]). The sketch
  // hashes with md5 (60 bits), so every estimate is DETERMINISTIC and the
  // DuckDB oracles below re-derive the identical sketches with window order
  // statistics — approximate algorithms hash-gated exactly, not rows-only.
  private val K = 64

  /** Shared oracle CTE: per-type k-minimum distinct user hashes. */
  private val kmvCte =
    s"""h AS (SELECT DISTINCT event_type,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h),
      sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = $K THEN hv END) AS hk
        FROM r WHERE rn <= $K GROUP BY event_type)"""

  // ------------------------------------------------- KMV distinct
  // Distinct users per event type: the bounded-memory KMV estimate
  // next to the exact count. At 100 TB the sketch ships 64 longs per
  // (partition × type) instead of every distinct user through the
  // exchange; here the gate proves the ESTIMATE ITSELF, not just row
  // counts, matches an independent engine.
  private val q424 = QueryDef(
    "q424_kmv_distinct",
    (s, dir) => {
      val e = t(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(Kmv.hash60(col("user_id")), K).as("sk"),
          countDistinct(col("user_id")).as("n_exact"))
      sk.select(col("event_type"), col("n_exact"),
          Kmv.estimate(col("sk"), K).as("n_est"))
        .withColumn("rel_err",
          abs(col("n_est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
        .orderBy("event_type")
    },
    Some(s"""WITH $kmvCte,
      ex AS (SELECT event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type),
      est AS (SELECT sk.event_type, n_exact,
          CASE WHEN m < $K THEN CAST(m AS DOUBLE)
               ELSE CAST(${K - 1} AS DOUBLE) * 1152921504606846976
                 / CAST(hk AS DOUBLE) END AS n_est
        FROM sk JOIN ex ON sk.event_type = ex.event_type)
      SELECT event_type, n_exact, n_est,
        abs(n_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          AS rel_err
      FROM est ORDER BY event_type"""),
    covers = Seq("SKETCH-kmv"))

  // ------------------------------------------------- KMV intersection
  // Audience overlap between every event-type pair via theta-sketch
  // algebra — the set operation HLL cannot do. Exact overlap rides
  // along for calibration; both engines compute the identical
  // θ = min(threshold) scaling.
  private val q425 = QueryDef(
    "q425_kmv_intersection",
    (s, dir) => {
      val e = t(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(Kmv.hash60(col("user_id")), K).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      val pairs = a.join(b, col("type_a") < col("type_b"))
      val tu = e.select(col("event_type"), col("user_id")).distinct()
      val exact = tu.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_shared_exact"))
      pairs.join(exact, Seq("type_a", "type_b"), "left")
        .withColumn("n_shared_exact", coalesce(col("n_shared_exact"), lit(0L)))
        .select(col("type_a"), col("type_b"), col("n_shared_exact"),
          Kmv.intersectEstimate(col("ska"), col("skb"), K)
            .as("n_shared_est"))
        .orderBy("type_a", "type_b")
    },
    Some(s"""WITH $kmvCte,
      mins AS (SELECT event_type, hv FROM r WHERE rn <= $K),
      th AS (SELECT event_type,
          CASE WHEN m < $K THEN CAST(1152921504606846976 AS DOUBLE)
               ELSE CAST(hk AS DOUBLE) END AS theta
        FROM sk),
      tu AS (SELECT DISTINCT event_type, user_id FROM events),
      exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared_exact
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
      pairs AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
          LEAST(ta.theta, tb.theta) AS theta
        FROM th ta JOIN th tb ON ta.event_type < tb.event_type),
      inter AS (SELECT ma.event_type AS type_a, mb.event_type AS type_b,
          ma.hv
        FROM mins ma JOIN mins mb
          ON ma.hv = mb.hv AND ma.event_type < mb.event_type),
      shared AS (SELECT p.type_a, p.type_b, p.theta,
          CAST(COUNT(i.hv) FILTER (WHERE CAST(i.hv AS DOUBLE) < p.theta)
            AS BIGINT) AS n_sh
        FROM pairs p LEFT JOIN inter i
          ON p.type_a = i.type_a AND p.type_b = i.type_b
        GROUP BY 1, 2, 3)
      SELECT s.type_a, s.type_b,
        COALESCE(e.n_shared_exact, 0) AS n_shared_exact,
        CAST(s.n_sh AS DOUBLE) * 1152921504606846976 / s.theta
          AS n_shared_est
      FROM shared s LEFT JOIN exact e
        ON s.type_a = e.type_a AND s.type_b = e.type_b
      ORDER BY s.type_a, s.type_b"""),
    covers = Seq("SKETCH-kmv-intersect"))

  // ------------------------------------------------- KMV union
  // Global distinct users as the k-min merge of per-type sketches —
  // the KMV union law (k smallest of a union live in the union of
  // per-part k-smallest) makes the merged sketch IDENTICAL to a
  // sketch built over the whole table, so incremental/partitioned
  // sketch maintenance loses nothing.
  private val q426 = QueryDef(
    "q426_kmv_union",
    (s, dir) => {
      val e = t(s, dir, "events")
      val merged = e.groupBy("event_type")
        .agg(Kmv.sketch(Kmv.hash60(col("user_id")), K).as("sk"))
        .agg(flatten(collect_list(col("sk"))).as("all_h"),
          count(lit(1)).as("n_types"))
        .select(col("n_types"),
          slice(array_sort(array_distinct(col("all_h"))), 1, K).as("sk"))
      val exact = e.agg(countDistinct(col("user_id")).as("n_exact"))
      merged.crossJoin(exact)
        .select(col("n_types"), col("n_exact"),
          Kmv.estimate(col("sk"), K).as("n_est"))
    },
    Some(s"""WITH hg AS (SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      rg AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hg),
      sg AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = $K THEN hv END) AS hk
        FROM rg WHERE rn <= $K),
      nt AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        FROM events),
      ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events)
      SELECT n_types, n_exact,
        CASE WHEN m < $K THEN CAST(m AS DOUBLE)
             ELSE CAST(${K - 1} AS DOUBLE) * 1152921504606846976
               / CAST(hk AS DOUBLE) END AS n_est
      FROM sg, nt, ex"""),
    covers = Seq("SKETCH-kmv-union"))

  // ------------------------------------------------- KMV difference
  // Exclusive audience per event-type pair, |A\B| and |B\A| by theta
  // algebra on the q424 sketches — "how many users does type A have
  // that B never sees". Deterministic like the rest of the KMV
  // surface; exact set differences ride along for calibration.
  private val q427 = QueryDef(
    "q427_kmv_difference",
    (s, dir) => {
      val K = 64
      val e = t(s, dir, "events")
      val sk = e.groupBy("event_type")
        .agg(Kmv.sketch(Kmv.hash60(col("user_id")), K).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      val tu = e.select(col("event_type"), col("user_id")).distinct()
      val cnt = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
      val shared = tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_shared"))
      a.join(b, col("type_a") < col("type_b"))
        .join(broadcast(cnt.select(col("event_type").as("type_a"),
          col("n").as("na"))), Seq("type_a"))
        .join(broadcast(cnt.select(col("event_type").as("type_b"),
          col("n").as("nb"))), Seq("type_b"))
        .join(broadcast(shared), Seq("type_a", "type_b"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .select(col("type_a"), col("type_b"),
          (col("na") - col("n_shared")).as("a_only_exact"),
          (col("nb") - col("n_shared")).as("b_only_exact"),
          Kmv.differenceEstimate(col("ska"), col("skb"), K)
            .as("a_only_est"),
          Kmv.differenceEstimate(col("skb"), col("ska"), K)
            .as("b_only_est"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH h AS (SELECT DISTINCT event_type,
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT event_type, hv,
          row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h),
      sk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = 64 THEN hv END) AS hk
        FROM r WHERE rn <= 64 GROUP BY event_type),
      mins AS (SELECT event_type, hv FROM r WHERE rn <= 64),
      th AS (SELECT event_type,
          CASE WHEN m < 64 THEN CAST(1152921504606846976 AS DOUBLE)
               ELSE CAST(hk AS DOUBLE) END AS theta
        FROM sk),
      tu AS (SELECT DISTINCT event_type, user_id FROM events),
      cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM tu GROUP BY event_type),
      shared AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
      pairs AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b,
          LEAST(ta.theta, tb.theta) AS theta
        FROM th ta JOIN th tb ON ta.event_type < tb.event_type),
      aonly AS (SELECT p.type_a, p.type_b,
          CAST(COUNT(ma.hv) FILTER (WHERE mb.hv IS NULL
            AND CAST(ma.hv AS DOUBLE) < p.theta) AS BIGINT) AS n_a
        FROM pairs p
        JOIN mins ma ON ma.event_type = p.type_a
        LEFT JOIN mins mb ON mb.event_type = p.type_b AND mb.hv = ma.hv
        GROUP BY 1, 2),
      bonly AS (SELECT p.type_a, p.type_b,
          CAST(COUNT(mb.hv) FILTER (WHERE ma.hv IS NULL
            AND CAST(mb.hv AS DOUBLE) < p.theta) AS BIGINT) AS n_b
        FROM pairs p
        JOIN mins mb ON mb.event_type = p.type_b
        LEFT JOIN mins ma ON ma.event_type = p.type_a AND ma.hv = mb.hv
        GROUP BY 1, 2)
      SELECT p.type_a, p.type_b,
        ca.n - COALESCE(s.n_shared, 0) AS a_only_exact,
        cb.n - COALESCE(s.n_shared, 0) AS b_only_exact,
        CAST(ao.n_a AS DOUBLE) * 1152921504606846976 / p.theta
          AS a_only_est,
        CAST(bo.n_b AS DOUBLE) * 1152921504606846976 / p.theta
          AS b_only_est
      FROM pairs p
      JOIN cnt ca ON ca.event_type = p.type_a
      JOIN cnt cb ON cb.event_type = p.type_b
      LEFT JOIN shared s ON s.type_a = p.type_a AND s.type_b = p.type_b
      JOIN aonly ao ON ao.type_a = p.type_a AND ao.type_b = p.type_b
      JOIN bonly bo ON bo.type_a = p.type_a AND bo.type_b = p.type_b
      ORDER BY p.type_a, p.type_b"""),
    covers = Seq("SKETCH-kmv-difference"))

  // ------------------------------------------------- KMV accuracy curve
  // The sketch's memory-accuracy dial, measured: distinct-user
  // estimates at k = 16/32/64/128 against the exact count — the
  // tuning table an operator reads before spending 8·k bytes per
  // group at 100 TB. One sketch at the largest k serves every
  // smaller k (its prefix IS the smaller sketch).
  private val q430 = QueryDef(
    "q430_kmv_accuracy_curve",
    (s, dir) => {
      val e = t(s, dir, "events")
      val sk = e.agg(
        Kmv.sketch(Kmv.hash60(col("user_id")), 128).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
      val ks = Seq(16, 32, 64, 128)
      val rows = ks.map(k => struct(lit(k.toLong).as("k"),
        Kmv.estimate(slice(col("sk"), 1, k), k).as("n_est")))
      sk.select(col("n_exact"), explode(array(rows: _*)).as("p"))
        .select(col("p.k"), col("n_exact"), col("p.n_est"))
        .withColumn("rel_err",
          abs(col("n_est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
        .orderBy("k")
    },
    Some("""WITH h AS (SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            AS BIGINT) AS hv
        FROM events),
      r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
      ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events),
      ks AS (SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS k),
      sk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS m,
          MAX(CASE WHEN rn = k THEN hv END) AS hk
        FROM r, ks WHERE rn <= k GROUP BY k),
      est AS (SELECT k, n_exact,
          CASE WHEN m < k THEN CAST(m AS DOUBLE)
               ELSE CAST(k - 1 AS DOUBLE) * 1152921504606846976
                 / CAST(hk AS DOUBLE) END AS n_est
        FROM sk, ex)
      SELECT k, n_exact, n_est,
        abs(n_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          AS rel_err
      FROM est ORDER BY k"""),
    covers = Seq("SKETCH-kmv-tuning"))

  // ------------------------------------------------- Kaplan-Meier
  // Customer-lifetime risk table per segment: lifetime = first→last
  // order in 30-day units; "death" = last order before a fixed
  // cutoff, later actives are right-censored. At each event time:
  // n_risk (reverse-cumulative count, exact ints), deaths, censored,
  // and the hazard d/n as one deterministic IEEE division. The
  // survival curve itself needs a running product (ln/exp) — the
  // risk table is the engine-friendly, exactly-gateable half.
  private val q432 = QueryDef(
    "q432_kaplan_meier",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val life = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
        .join(seg, Seq("o_custkey"))
        .select(col("segment"),
          floor(datediff(col("last_d"), col("first_d")) / lit(30.0))
            .cast(LongType).as("t"),
          (col("last_d") < lit("2001-02-01").cast(DateType)).as("event"))
      val grp = life.groupBy("segment", "t")
        .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
          sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
      val wRisk = Window.partitionBy("segment").orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grp.withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
        .filter(col("d") > 0)
        .select(col("segment"), col("t"), col("n_risk"), col("d"), col("c"),
          (col("d").cast("double") / col("n_risk").cast("double"))
            .as("hazard"))
        .orderBy("segment", "t")
    },
    Some("""WITH life AS (SELECT c.c_mktsegment AS segment,
          CAST(floor(date_diff('day',
              MIN(CAST(o.o_orderdate AS DATE)),
              MAX(CAST(o.o_orderdate AS DATE))) / 30.0) AS BIGINT) AS t,
          (MAX(CAST(o.o_orderdate AS DATE)) < DATE '2001-02-01') AS event
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_mktsegment),
      grp AS (SELECT segment, t,
          CAST(COUNT(*) FILTER (WHERE event) AS BIGINT) AS d,
          CAST(COUNT(*) FILTER (WHERE NOT event) AS BIGINT) AS c
        FROM life GROUP BY 1, 2),
      km AS (SELECT segment, t, d, c,
          CAST(SUM(d + c) OVER (PARTITION BY segment ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_risk
        FROM grp)
      SELECT segment, t, n_risk, d, c,
        CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
      FROM km WHERE d > 0 ORDER BY segment, t"""),
    covers = Seq("STAT-kaplan-meier"))

  // ------------------------------------------------- Palma ratio
  // Spend inequality per segment as the Palma ratio: top-10% customer
  // spend over bottom-40% spend. Decile membership by exact
  // row_number against floor(n/10) / floor(4n/10) cutoffs (ties
  // broken by custkey), sums in exact cents, one final division —
  // the quantile-share inequality family next to the Gini/Lorenz
  // queries, robust to the middle of the distribution.
  private val q433 = QueryDef(
    "q433_palma_ratio",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val cs = t(s, dir, "orders")
        .groupBy("o_custkey").agg(sum(cents).as("spend"))
        .join(seg, Seq("o_custkey"))
      val w = Window.partitionBy("segment")
        .orderBy(col("spend").desc, col("o_custkey"))
      val sizes = cs.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("spend").as("total_cents"))
      cs.withColumn("rn", row_number().over(w).cast(LongType))
        .join(broadcast(sizes), Seq("segment"))
        .withColumn("topn", floor(col("n") / lit(10.0)).cast(LongType))
        .withColumn("botn",
          floor(col("n") * lit(4L) / lit(10.0)).cast(LongType))
        .groupBy("segment", "n", "total_cents")
        .agg(sum(when(col("rn") <= col("topn"), col("spend"))).as("top_cents"),
          sum(when(col("rn") > col("n") - col("botn"), col("spend")))
            .as("bottom_cents"))
        .select(col("segment"), col("n").as("n_cust"), col("total_cents"),
          col("top_cents"), col("bottom_cents"),
          (col("top_cents").cast("double") /
            col("bottom_cents").cast("double")).as("palma"))
        .orderBy("segment")
    },
    Some("""WITH cs AS (SELECT o.o_custkey, c.c_mktsegment AS segment,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS spend
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      ranked AS (SELECT segment, spend,
          CAST(row_number() OVER (PARTITION BY segment
            ORDER BY spend DESC, o_custkey) AS BIGINT) AS rn
        FROM cs),
      sizes AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(spend) AS BIGINT) AS total_cents
        FROM cs GROUP BY segment),
      cut AS (SELECT r.segment, r.spend, r.rn, s.n, s.total_cents,
          CAST(floor(s.n / 10.0) AS BIGINT) AS topn,
          CAST(floor(s.n * 4 / 10.0) AS BIGINT) AS botn
        FROM ranked r JOIN sizes s ON s.segment = r.segment)
      SELECT segment, n AS n_cust, total_cents,
        CAST(SUM(spend) FILTER (WHERE rn <= topn) AS BIGINT) AS top_cents,
        CAST(SUM(spend) FILTER (WHERE rn > n - botn) AS BIGINT)
          AS bottom_cents,
        CAST(SUM(spend) FILTER (WHERE rn <= topn) AS DOUBLE) /
          CAST(SUM(spend) FILTER (WHERE rn > n - botn) AS DOUBLE) AS palma
      FROM cut GROUP BY segment, n, total_cents ORDER BY segment"""),
    covers = Seq("STAT-palma-ratio"))

  // ------------------------------------------------- Hurst R/S
  // Rescaled-range statistic of the daily order-arrival series per
  // complete 28-day bucket (zero-filled calendar spine). The usual
  // formulation needs running sums of (x−μ) in floats; here the
  // cumulative deviation is kept as the exact integer
  // 28·prefix_k − k·S1, so R, S, and R/S each reduce to one
  // division / one IEEE sqrt over exact operands. No log-log slope
  // (pow-free) — the per-bucket R/S series IS the long-memory audit.
  private val q435 = QueryDef(
    "q435_hurst_rs",
    (s, dir) => {
      val di = t(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast(DateType)).cast(LongType).as("di"))
      val daily = di.groupBy("di").agg(count(lit(1)).as("cnt"))
      val spine = di.agg(max("di").as("max_di"))
        .select(explode(sequence(lit(0L), col("max_di"))).as("di"))
      val series = spine.join(daily, Seq("di"), "left")
        .withColumn("x", coalesce(col("cnt"), lit(0L)))
        .withColumn("bucket", floor(col("di") / lit(28.0)).cast(LongType))
        .withColumn("k", col("di") % 28 + 1)
      val wCum = Window.partitionBy("bucket").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("bucket")
      series
        .withColumn("prefix", sum(col("x")).over(wCum))
        .withColumn("s1", sum(col("x")).over(wAll))
        .withColumn("devnum",
          lit(28L) * col("prefix") - col("k") * col("s1"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("nd"), max("s1").as("s1"),
          sum(col("x") * col("x")).as("s2"),
          max("devnum").as("dmax"), min("devnum").as("dmin"))
        .filter(col("nd") === 28)
        .select(col("bucket"), col("s1").as("n_orders"),
          ((col("dmax") - col("dmin")).cast("double") / lit(28.0))
            .as("r_stat"),
          (sqrt((lit(28L) * col("s2") - col("s1") * col("s1"))
            .cast("double")) / lit(28.0)).as("s_stat"))
        .withColumn("rs", when(col("s_stat") === 0.0, lit(null))
          .otherwise(col("r_stat") / col("s_stat")))
        .orderBy("bucket")
    },
    Some("""WITH di AS (SELECT CAST(date_diff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS di FROM orders),
      daily AS (SELECT di, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM di GROUP BY di),
      spine AS (SELECT unnest(range(0, (SELECT MAX(di) + 1 FROM di)))
          AS di),
      series AS (SELECT s.di, COALESCE(d.cnt, 0) AS x,
          CAST(floor(s.di / 28.0) AS BIGINT) AS bucket,
          s.di % 28 + 1 AS k
        FROM spine s LEFT JOIN daily d ON d.di = s.di),
      cum AS (SELECT bucket, k, x,
          CAST(SUM(x) OVER (PARTITION BY bucket ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS prefix,
          CAST(SUM(x) OVER (PARTITION BY bucket) AS BIGINT) AS s1
        FROM series),
      dev AS (SELECT bucket, k, x, s1,
          28 * prefix - k * s1 AS devnum FROM cum),
      agg AS (SELECT bucket, COUNT(*) AS nd, MAX(s1) AS s1,
          CAST(SUM(x * x) AS BIGINT) AS s2,
          MAX(devnum) AS dmax, MIN(devnum) AS dmin
        FROM dev GROUP BY bucket)
      SELECT bucket, CAST(s1 AS BIGINT) AS n_orders,
        CAST(dmax - dmin AS DOUBLE) / 28.0 AS r_stat,
        sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0 AS s_stat,
        CASE WHEN sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0 = 0.0
          THEN NULL
          ELSE (CAST(dmax - dmin AS DOUBLE) / 28.0) /
            (sqrt(CAST(28 * s2 - s1 * s1 AS DOUBLE)) / 28.0) END AS rs
      FROM agg WHERE nd = 28 ORDER BY bucket"""),
    covers = Seq("STAT-hurst-rs"))

  // ------------------------------------------------- Wasserstein-1D
  // Earth-mover distance between segment order-value distributions
  // in $5,000 buckets: W1 = Σ_k |F_a(k) − F_b(k)| over the dense
  // bucket grid, with each ECDF term kept as the exact integer
  // C_a·n_b − C_b·n_a over the common denominator n_a·n_b — the sum
  // is order-free, the single division deterministic. The
  // distribution-shape companion to the mean/quantile gap queries:
  // how much probability mass must MOVE, and how far.
  private val q437 = QueryDef(
    "q437_wasserstein_1d",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val ov = t(s, dir, "orders")
        .join(seg, Seq("o_custkey"))
        .select(col("segment"),
          floor(cents / lit(500000.0)).cast(LongType).as("bucket"))
      val counts = ov.groupBy("segment", "bucket").agg(count(lit(1)).as("c"))
      val maxB = ov.agg(max("bucket").as("mb"))
      val grid = maxB
        .select(explode(sequence(lit(0L), col("mb"))).as("bucket"))
        .crossJoin(broadcast(ov.select("segment").distinct()))
        .join(counts, Seq("segment", "bucket"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wCum = Window.partitionBy("segment").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ecdf = grid.withColumn("cum", sum(col("c")).over(wCum))
      val tot = ov.groupBy("segment").agg(count(lit(1)).as("n"))
      val a = ecdf.select(col("segment").as("seg_a"), col("bucket"),
        col("cum").as("cum_a"))
      val b = ecdf.select(col("segment").as("seg_b"), col("bucket"),
        col("cum").as("cum_b"))
      a.join(b, Seq("bucket")).filter(col("seg_a") < col("seg_b"))
        .join(broadcast(tot.select(col("segment").as("seg_a"),
          col("n").as("n_a"))), Seq("seg_a"))
        .join(broadcast(tot.select(col("segment").as("seg_b"),
          col("n").as("n_b"))), Seq("seg_b"))
        .groupBy("seg_a", "seg_b", "n_a", "n_b")
        .agg(sum(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("wnum"))
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          (col("wnum").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("w1_buckets"))
        .orderBy("seg_a", "seg_b")
    },
    Some("""WITH ov AS (SELECT c.c_mktsegment AS segment,
          CAST(floor(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) / 500000.0) AS BIGINT) AS bucket
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      counts AS (SELECT segment, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM ov GROUP BY 1, 2),
      grid AS (SELECT s.segment, g.bucket, COALESCE(ct.c, 0) AS c
        FROM (SELECT DISTINCT segment FROM ov) s
        CROSS JOIN (SELECT unnest(range(0,
          (SELECT MAX(bucket) + 1 FROM ov))) AS bucket) g
        LEFT JOIN counts ct ON ct.segment = s.segment
          AND ct.bucket = g.bucket),
      ecdf AS (SELECT segment, bucket,
          CAST(SUM(c) OVER (PARTITION BY segment ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM grid),
      tot AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n
        FROM ov GROUP BY 1)
      SELECT a.segment AS seg_a, b.segment AS seg_b,
        ta.n AS n_a, tb.n AS n_b,
        CAST(SUM(ABS(a.cum * tb.n - b.cum * ta.n)) AS DOUBLE) /
          CAST(ta.n * tb.n AS DOUBLE) AS w1_buckets
      FROM ecdf a JOIN ecdf b
        ON a.bucket = b.bucket AND a.segment < b.segment
      JOIN tot ta ON ta.segment = a.segment
      JOIN tot tb ON tb.segment = b.segment
      GROUP BY 1, 2, 3, 4 ORDER BY seg_a, seg_b"""),
    covers = Seq("STAT-wasserstein-1d"))

  // ------------------------------------------------- Brier score
  // Forecast calibration without a model: the train-period urgent
  // rate per segment (orders before 1999) is the "forecast" for the
  // test period; Brier = mean (p̂−y)² folds to the closed form
  // (a²n − 2abk + b²k)/(b²n) over exact counts, so no per-row float
  // sum exists at all. The skill score compares against the global
  // climatology forecast the same way.
  private val q438 = QueryDef(
    "q438_brier_score",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"),
          (col("o_orderpriority") === "1-URGENT").as("y"),
          (to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
            .as("is_train"))
      val train = o.filter(col("is_train")).groupBy("segment")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("b"))
      val glob = o.filter(col("is_train"))
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("a0"),
          count(lit(1)).as("b0"))
      val test = o.filter(!col("is_train")).groupBy("segment")
        .agg(sum(when(col("y"), 1L).otherwise(0L)).as("k"),
          count(lit(1)).as("n"))
      test.join(broadcast(train), Seq("segment"))
        .crossJoin(broadcast(glob))
        .select(col("segment"), col("n"), col("k"),
          (col("a").cast("double") / col("b").cast("double")).as("p_hat"),
          (col("k").cast("double") / col("n").cast("double")).as("rate"),
          ((col("a") * col("a") * col("n")
            - lit(2L) * col("a") * col("b") * col("k")
            + col("b") * col("b") * col("k")).cast("double") /
            (col("b") * col("b") * col("n")).cast("double")).as("brier"),
          ((col("a0") * col("a0") * col("n")
            - lit(2L) * col("a0") * col("b0") * col("k")
            + col("b0") * col("b0") * col("k")).cast("double") /
            (col("b0") * col("b0") * col("n")).cast("double"))
            .as("brier_clim"))
        .withColumn("skill",
          lit(1.0) - col("brier") / col("brier_clim"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          (o.o_orderpriority = '1-URGENT') AS y,
          (CAST(o.o_orderdate AS DATE) < DATE '1999-01-01') AS is_train
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      train AS (SELECT segment,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS a,
          CAST(COUNT(*) AS BIGINT) AS b
        FROM o WHERE is_train GROUP BY 1),
      gl AS (SELECT CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS a0,
          CAST(COUNT(*) AS BIGINT) AS b0
        FROM o WHERE is_train),
      test AS (SELECT segment,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS k,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM o WHERE NOT is_train GROUP BY 1)
      SELECT t.segment, t.n, t.k,
        CAST(tr.a AS DOUBLE) / CAST(tr.b AS DOUBLE) AS p_hat,
        CAST(t.k AS DOUBLE) / CAST(t.n AS DOUBLE) AS rate,
        CAST(tr.a * tr.a * t.n - 2 * tr.a * tr.b * t.k
            + tr.b * tr.b * t.k AS DOUBLE) /
          CAST(tr.b * tr.b * t.n AS DOUBLE) AS brier,
        CAST(g.a0 * g.a0 * t.n - 2 * g.a0 * g.b0 * t.k
            + g.b0 * g.b0 * t.k AS DOUBLE) /
          CAST(g.b0 * g.b0 * t.n AS DOUBLE) AS brier_clim,
        1.0 - (CAST(tr.a * tr.a * t.n - 2 * tr.a * tr.b * t.k
            + tr.b * tr.b * t.k AS DOUBLE) /
          CAST(tr.b * tr.b * t.n AS DOUBLE)) /
          (CAST(g.a0 * g.a0 * t.n - 2 * g.a0 * g.b0 * t.k
            + g.b0 * g.b0 * t.k AS DOUBLE) /
          CAST(g.b0 * g.b0 * t.n AS DOUBLE)) AS skill
      FROM test t JOIN train tr ON tr.segment = t.segment
      CROSS JOIN gl g ORDER BY t.segment"""),
    covers = Seq("STAT-brier-score"))

  // ------------------------------------------------- Wilcoxon
  // Signed-rank test on paired first-vs-second order value per
  // customer: did the second purchase get bigger? Midranks are kept
  // exact by working in doubled units (2·midrank = 2·rank + ties −
  // 1, an integer), the tie-corrected variance is one exact integer
  // bilinear, and z is a single division over an IEEE sqrt.
  private val q439 = QueryDef(
    "q439_wilcoxon_signed_rank",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val wOrd = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val firstTwo = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          cents.as("v"),
          row_number().over(wOrd).as("rn"))
        .filter(col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(max(when(col("rn") === 1, col("v"))).as("v1"),
          max(when(col("rn") === 2, col("v"))).as("v2"))
        .filter(col("v2").isNotNull)
        .join(seg, Seq("o_custkey"))
        .select(col("segment"), (col("v2") - col("v1")).as("d"))
        .filter(col("d") =!= 0)
        .withColumn("absd", abs(col("d")))
      val wRank = Window.partitionBy("segment").orderBy("absd")
      val wTie = Window.partitionBy("segment", "absd")
      val ranked = firstTwo
        .withColumn("rnk", rank().over(wRank).cast(LongType))
        .withColumn("tcnt", count(lit(1)).over(wTie))
        .withColumn("r2", lit(2L) * col("rnk") + col("tcnt") - 1L)
      val ties = firstTwo.groupBy("segment", "absd")
        .agg(count(lit(1)).as("tc"))
        .groupBy("segment")
        .agg(sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tt"))
      ranked.groupBy("segment")
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2_plus"))
        .join(broadcast(ties), Seq("segment"))
        .select(col("segment"), col("n"), col("w2_plus"), col("tt"),
          ((col("w2_plus") - expr("n * (n + 1) DIV 2")).cast("double") /
            sqrt((lit(2L) * col("n") * (col("n") + 1L) *
              (lit(2L) * col("n") + 1L) - col("tt")).cast("double") /
              lit(12.0))).as("z"))
        .orderBy("segment")
    },
    Some("""WITH ft AS (SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders),
      pairs AS (SELECT f.o_custkey,
          MAX(CASE WHEN rn = 1 THEN v END) AS v1,
          MAX(CASE WHEN rn = 2 THEN v END) AS v2
        FROM ft f WHERE rn <= 2 GROUP BY 1),
      d AS (SELECT c.c_mktsegment AS segment,
          p.v2 - p.v1 AS d, ABS(p.v2 - p.v1) AS absd
        FROM pairs p JOIN customer c ON c.c_custkey = p.o_custkey
        WHERE p.v2 IS NOT NULL AND p.v2 - p.v1 <> 0),
      ranked AS (SELECT segment, d, absd,
          CAST(rank() OVER (PARTITION BY segment ORDER BY absd)
            AS BIGINT) AS rnk,
          CAST(COUNT(*) OVER (PARTITION BY segment, absd)
            AS BIGINT) AS tcnt
        FROM d),
      ties AS (SELECT segment,
          CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tt
        FROM (SELECT segment, absd, CAST(COUNT(*) AS BIGINT) AS tc
          FROM d GROUP BY 1, 2) GROUP BY segment),
      agg AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN d > 0 THEN 2 * rnk + tcnt - 1
            ELSE 0 END) AS BIGINT) AS w2_plus
        FROM ranked GROUP BY segment)
      SELECT a.segment, a.n, a.w2_plus, t.tt,
        CAST(a.w2_plus - a.n * (a.n + 1) // 2 AS DOUBLE) /
          sqrt(CAST(2 * a.n * (a.n + 1) * (2 * a.n + 1) - t.tt
            AS DOUBLE) / 12.0) AS z
      FROM agg a JOIN ties t ON t.segment = a.segment
      ORDER BY a.segment"""),
    covers = Seq("STAT-wilcoxon-signed-rank"))

  // ------------------------------------------------- McNemar
  // Paired binary flip test: is a customer's LAST order more likely
  // urgent than their FIRST? Only the discordant cells matter —
  // χ² = (b−c)²/(b+c), plus the Edwards continuity-corrected
  // variant — each one exact-integer division.
  private val q440 = QueryDef(
    "q440_mcnemar",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val wAsc = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wDesc = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val fl = t(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_orderpriority") === "1-URGENT").as("y"),
          row_number().over(wAsc).as("ra"),
          row_number().over(wDesc).as("rd"))
        .filter(col("ra") === 1 || col("rd") === 1)
        .groupBy("o_custkey")
        .agg(max(when(col("ra") === 1, col("y"))).as("y_first"),
          max(when(col("rd") === 1, col("y"))).as("y_last"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .join(seg, Seq("o_custkey"))
      fl.groupBy("segment")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("y_first") && !col("y_last"), 1L).otherwise(0L))
            .as("b"),
          sum(when(!col("y_first") && col("y_last"), 1L).otherwise(0L))
            .as("c"))
        .select(col("segment"), col("n_pairs"), col("b"), col("c"),
          (((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2"),
          (((abs(col("b") - col("c")) - 1L) *
            (abs(col("b") - col("c")) - 1L)).cast("double") /
            (col("b") + col("c")).cast("double")).as("chi2_cc"))
        .orderBy("segment")
    },
    Some("""WITH fo AS (SELECT o_custkey,
          (o_orderpriority = '1-URGENT') AS y,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS ra,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rd
        FROM orders),
      fl AS (SELECT o_custkey,
          MAX(CASE WHEN ra = 1 THEN y END) AS y_first,
          MAX(CASE WHEN rd = 1 THEN y END) AS y_last,
          COUNT(*) AS cnt
        FROM fo WHERE ra = 1 OR rd = 1 GROUP BY 1),
      d AS (SELECT c.c_mktsegment AS segment, f.y_first, f.y_last
        FROM fl f JOIN customer c ON c.c_custkey = f.o_custkey
        WHERE f.cnt = 2),
      agg AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(COUNT(*) FILTER (WHERE y_first AND NOT y_last)
            AS BIGINT) AS b,
          CAST(COUNT(*) FILTER (WHERE NOT y_first AND y_last)
            AS BIGINT) AS c
        FROM d GROUP BY segment)
      SELECT segment, n_pairs, b, c,
        CAST((b - c) * (b - c) AS DOUBLE) /
          CAST(b + c AS DOUBLE) AS chi2,
        CAST((ABS(b - c) - 1) * (ABS(b - c) - 1) AS DOUBLE) /
          CAST(b + c AS DOUBLE) AS chi2_cc
      FROM agg ORDER BY segment"""),
    covers = Seq("STAT-mcnemar"))

  // ------------------------------------------------- repurchase gaps
  // Purchase-rhythm quantiles: days between consecutive orders per
  // customer, P25/P50/P75/P90 per segment by percentile_disc — exact
  // integer order-statistic picks, no interpolation to diverge on.
  // The replenishment-cycle profile behind inventory planning.
  private val q445 = QueryDef(
    "q445_repurchase_quantiles",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), to_date(col("prev")))
            .cast(LongType).as("gap"))
        .join(seg, Seq("o_custkey"))
      gaps.groupBy("segment")
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p75"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)")
            .cast(LongType).as("p90"))
        .orderBy("segment")
    },
    Some("""WITH gaps AS (SELECT o_custkey,
          CAST(date_diff('day',
            lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey),
            CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        FROM orders),
      g AS (SELECT c.c_mktsegment AS segment, gaps.gap
        FROM gaps JOIN customer c ON c.c_custkey = gaps.o_custkey
        WHERE gaps.gap IS NOT NULL)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p25,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p50,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p75,
        CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)
          AS BIGINT) AS p90
      FROM g GROUP BY segment ORDER BY segment"""),
    covers = Seq("STAT-repurchase-quantiles"))

  // ------------------------------------------------- gains table
  // Decile gains chart: rank customers by 1995–97 spend (the
  // "score"), report each decile's share of 1998+ spend (the
  // "response") plus cumulative capture — the model-eval table that
  // turns q420's correlation into business language. Deciles by
  // ntile over a unique total order; shares are exact-cents
  // divisions.
  private val q446 = QueryDef(
    "q446_gains_table",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_custkey"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("cents"),
          year(to_date(col("o_orderdate"))).as("yr"))
      val cust = o.groupBy("o_custkey")
        .agg(sum(when(col("yr") <= 1997, col("cents")).otherwise(0L))
          .as("score"),
          sum(when(col("yr") >= 1998, col("cents")).otherwise(0L))
            .as("future"))
      val w = Window.orderBy(col("score").desc, col("o_custkey"))
      val dec = cust.withColumn("decile", ntile(10).over(w).cast(LongType))
      val tot = dec.agg(sum("future").as("tf"))
      val byDec = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("score").as("score_cents"),
          sum("future").as("future_cents"))
      val wc = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec.crossJoin(broadcast(tot))
        .withColumn("cum_future", sum(col("future_cents")).over(wc))
        .select(col("decile"), col("n_cust"), col("score_cents"),
          col("future_cents"),
          (col("future_cents").cast("double") / col("tf").cast("double"))
            .as("capture"),
          (col("cum_future").cast("double") / col("tf").cast("double"))
            .as("cum_capture"))
        .orderBy("decile")
    },
    Some("""WITH o AS (SELECT o_custkey,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS cents,
          year(CAST(o_orderdate AS DATE)) AS yr
        FROM orders),
      cust AS (SELECT o_custkey,
          CAST(SUM(CASE WHEN yr <= 1997 THEN cents ELSE 0 END)
            AS BIGINT) AS score,
          CAST(SUM(CASE WHEN yr >= 1998 THEN cents ELSE 0 END)
            AS BIGINT) AS future
        FROM o GROUP BY 1),
      dec AS (SELECT score, future,
          CAST(ntile(10) OVER (ORDER BY score DESC, o_custkey)
            AS BIGINT) AS decile
        FROM cust),
      by_dec AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(score) AS BIGINT) AS score_cents,
          CAST(SUM(future) AS BIGINT) AS future_cents
        FROM dec GROUP BY decile),
      tot AS (SELECT CAST(SUM(future) AS BIGINT) AS tf FROM dec)
      SELECT d.decile, d.n_cust, d.score_cents, d.future_cents,
        CAST(d.future_cents AS DOUBLE) / CAST(t.tf AS DOUBLE) AS capture,
        CAST(SUM(d.future_cents) OVER (ORDER BY d.decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
          CAST(t.tf AS DOUBLE) AS cum_capture
      FROM by_dec d CROSS JOIN tot t ORDER BY d.decile"""),
    covers = Seq("STAT-gains-table"))

  // ------------------------------------------------- Goodman-Kruskal λ
  // Modal association between segment and order priority, both
  // directions: how much does knowing one reduce the error of
  // guessing the other's mode? λ = (Σ conditional modes − marginal
  // mode)/(n − marginal mode) — pure counts, two divisions, no
  // distributional assumptions (the log-free cousin of mutual
  // information). Contingency cells are |segments|×|priorities|.
  private val q449 = QueryDef(
    "q449_goodman_kruskal_lambda",
    (s, dir) => {
      val ct = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), Seq("o_custkey"))
        .groupBy(col("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("c"))
      val rowMax = ct.groupBy("seg").agg(max("c").as("m"))
        .agg(sum("m").as("sum_rowmax"))
      val colMax = ct.groupBy("pri").agg(max("c").as("m"))
        .agg(sum("m").as("sum_colmax"))
      val rowTotMax = ct.groupBy("seg").agg(sum("c").as("rt"))
        .agg(max("rt").as("max_rowtot"))
      val colTotMax = ct.groupBy("pri").agg(sum("c").as("pt"))
        .agg(max("pt").as("max_coltot"))
      val n = ct.agg(sum("c").as("n"))
      n.crossJoin(broadcast(rowMax)).crossJoin(broadcast(colMax))
        .crossJoin(broadcast(rowTotMax)).crossJoin(broadcast(colTotMax))
        .select(col("n"), col("sum_rowmax"), col("max_coltot"),
          ((col("sum_rowmax") - col("max_coltot")).cast("double") /
            (col("n") - col("max_coltot")).cast("double"))
            .as("lambda_pri_given_seg"),
          col("sum_colmax"), col("max_rowtot"),
          ((col("sum_colmax") - col("max_rowtot")).cast("double") /
            (col("n") - col("max_rowtot")).cast("double"))
            .as("lambda_seg_given_pri"))
    },
    Some("""WITH ct AS (SELECT c.c_mktsegment AS seg,
          o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      rm AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_rowmax FROM
        (SELECT seg, MAX(c) AS m FROM ct GROUP BY seg)),
      cm AS (SELECT CAST(SUM(m) AS BIGINT) AS sum_colmax FROM
        (SELECT pri, MAX(c) AS m FROM ct GROUP BY pri)),
      rt AS (SELECT CAST(MAX(s) AS BIGINT) AS max_rowtot FROM
        (SELECT seg, SUM(c) AS s FROM ct GROUP BY seg)),
      pt AS (SELECT CAST(MAX(s) AS BIGINT) AS max_coltot FROM
        (SELECT pri, SUM(c) AS s FROM ct GROUP BY pri)),
      nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct)
      SELECT nn.n, rm.sum_rowmax, pt.max_coltot,
        CAST(rm.sum_rowmax - pt.max_coltot AS DOUBLE) /
          CAST(nn.n - pt.max_coltot AS DOUBLE) AS lambda_pri_given_seg,
        cm.sum_colmax, rt.max_rowtot,
        CAST(cm.sum_colmax - rt.max_rowtot AS DOUBLE) /
          CAST(nn.n - rt.max_rowtot AS DOUBLE) AS lambda_seg_given_pri
      FROM nn, rm, cm, rt, pt"""),
    covers = Seq("STAT-goodman-kruskal-lambda"))

  // ------------------------------------------------- tail dependence
  // Do busy days and high-revenue days coincide in the extreme tail?
  // Upper-tail dependence of the (daily orders, daily revenue) pair:
  // exceedance of both P90 thresholds (percentile_disc — exact
  // integer picks), conditional probability and lift as the only
  // divisions. The copula-corner diagnostic that a correlation
  // coefficient averages away.
  private val q450 = QueryDef(
    "q450_tail_dependence",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum((dec(col("o_totalprice")) * 100)
            .cast(LongType)).as("rev"))
      val cuts = daily.agg(
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cnt)")
          .cast(LongType).as("cnt_p90"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY rev)")
          .cast(LongType).as("rev_p90"))
      daily.crossJoin(broadcast(cuts))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("cnt") >= col("cnt_p90"), 1L).otherwise(0L))
            .as("n_cnt_hi"),
          sum(when(col("rev") >= col("rev_p90"), 1L).otherwise(0L))
            .as("n_rev_hi"),
          sum(when(col("cnt") >= col("cnt_p90") &&
            col("rev") >= col("rev_p90"), 1L).otherwise(0L)).as("n_both"))
        .select(col("n_days"), col("n_cnt_hi"), col("n_rev_hi"),
          col("n_both"),
          (col("n_both").cast("double") / col("n_cnt_hi").cast("double"))
            .as("cond_prob"),
          ((col("n_both") * col("n_days")).cast("double") /
            (col("n_cnt_hi") * col("n_rev_hi")).cast("double")).as("lift"))
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1),
      cuts AS (SELECT
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS cnt_p90,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY rev)
            AS BIGINT) AS rev_p90
        FROM daily)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90) AS BIGINT)
          AS n_cnt_hi,
        CAST(COUNT(*) FILTER (WHERE rev >= rev_p90) AS BIGINT)
          AS n_rev_hi,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
          AS BIGINT) AS n_both,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
          AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90) AS DOUBLE)
          AS cond_prob,
        CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90 AND rev >= rev_p90)
            * COUNT(*) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE cnt >= cnt_p90)
            * COUNT(*) FILTER (WHERE rev >= rev_p90) AS DOUBLE) AS lift
      FROM daily CROSS JOIN cuts"""),
    covers = Seq("STAT-tail-dependence"))

  // ------------------------------------------------- record days
  // Record-breaking revenue days per segment: a day is a record when
  // it strictly exceeds every earlier day's revenue. Exact cents
  // against a shifted running max — the "all-time high" census whose
  // expected count grows only logarithmically for exchangeable
  // series, so an excess is itself a trend signal.
  private val q453 = QueryDef(
    "q453_record_days",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(sum((dec(col("o_totalprice")) * 100)
          .cast(LongType)).as("rev"))
      val w = Window.partitionBy("segment").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      daily.withColumn("prevmax", max("rev").over(w))
        .withColumn("is_record",
          col("prevmax").isNull || col("rev") > col("prevmax"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("is_record"), 1L).otherwise(0L)).as("n_records"),
          max(when(col("is_record"), col("day"))).as("last_record_day"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS rev
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      r AS (SELECT segment, day, rev,
          MAX(rev) OVER (PARTITION BY segment ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prevmax
        FROM daily)
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(COUNT(*) FILTER (WHERE prevmax IS NULL OR rev > prevmax)
          AS BIGINT) AS n_records,
        MAX(day) FILTER (WHERE prevmax IS NULL OR rev > prevmax)
          AS last_record_day
      FROM r GROUP BY segment ORDER BY segment"""),
    covers = Seq("STAT-record-days"))

  // ------------------------------------------------- Lorenz asymmetry
  // Is inequality driven by a few giants or many minnows? The Lorenz
  // asymmetry coefficient S = F(μ) + L(μ): the population share
  // below the mean plus their spend share. Membership is decided by
  // the exact integer comparison n·x < Σx (never a float mean), the
  // two shares are single divisions; S < 1 means inequality comes
  // from the small end, S > 1 from the giants.
  private val q454 = QueryDef(
    "q454_lorenz_asymmetry",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val spend = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum((dec(col("o_totalprice")) * 100)
          .cast(LongType)).as("x"))
        .join(seg, Seq("o_custkey"))
      val tot = spend.groupBy("segment")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      spend.join(broadcast(tot), Seq("segment"))
        .withColumn("below", col("n") * col("x") < col("sx"))
        .groupBy("segment", "n", "sx")
        .agg(sum(when(col("below"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("below"), col("x")).otherwise(0L)).as("sx_below"))
        .select(col("segment"), col("n").as("n_cust"), col("n_below"),
          (col("n_below").cast("double") / col("n").cast("double"))
            .as("f_mu"),
          (col("sx_below").cast("double") / col("sx").cast("double"))
            .as("l_mu"),
          (col("n_below").cast("double") / col("n").cast("double") +
            col("sx_below").cast("double") / col("sx").cast("double"))
            .as("asymmetry"))
        .orderBy("segment")
    },
    Some("""WITH spend AS (SELECT o.o_custkey,
          c.c_mktsegment AS segment,
          CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT)) AS BIGINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      tot AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx
        FROM spend GROUP BY segment)
      SELECT s.segment, t.n AS n_cust,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS BIGINT)
          AS n_below,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.n AS DOUBLE) AS f_mu,
        CAST(SUM(s.x) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.sx AS DOUBLE) AS l_mu,
        CAST(COUNT(*) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.n AS DOUBLE) +
        CAST(SUM(s.x) FILTER (WHERE t.n * s.x < t.sx) AS DOUBLE) /
          CAST(t.sx AS DOUBLE) AS asymmetry
      FROM spend s JOIN tot t ON t.segment = s.segment
      GROUP BY s.segment, t.n, t.sx ORDER BY s.segment"""),
    covers = Seq("STAT-lorenz-asymmetry"))

  // ------------------------------------------------- price CQV
  // Quartile coefficient of dispersion of catalog prices per brand:
  // (Q3−Q1)/(Q3+Q1) from percentile_disc integer picks — the
  // outlier-robust relative spread that survives the heavy tail a
  // CV would chase. One division per brand.
  private val q455 = QueryDef(
    "q455_price_cqv",
    (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_brand"),
          (dec(col("p_retailprice")) * 100)
            .cast(LongType).as("cents"))
      p.groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("q1"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("med"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)")
            .cast(LongType).as("q3"))
        .select(col("p_brand"), col("n_parts"), col("q1"), col("med"),
          col("q3"),
          ((col("q3") - col("q1")).cast("double") /
            (col("q3") + col("q1")).cast("double")).as("cqv"))
        .orderBy("p_brand")
    },
    Some("""WITH p AS (SELECT p_brand,
          CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS cents
        FROM part)
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS q1,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS med,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
          AS BIGINT) AS q3,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) -
          percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS DOUBLE) /
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) +
          percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
          AS DOUBLE) AS cqv
      FROM p GROUP BY p_brand ORDER BY p_brand"""),
    covers = Seq("STAT-price-cqv"))

  // Symbolic time-series mining. The SAX alphabet uses weekly SUMS (scaling
  // by 1/7 is monotone, so the symbols are identical and everything stays
  // an exact integer compare against percentile_disc breakpoints).
  /** Complete-week order totals (wk, s_w) from the daily series. */
  private def weekly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(floor(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast(DateType)) / lit(7.0))
        .cast(LongType).as("wk"),
        to_date(col("o_orderdate")).as("day"))
      .groupBy("wk")
      .agg(count(lit(1)).as("s_w"), countDistinct("day").as("nd"))

  private val weeklySql: String =
    """wx AS (SELECT CAST(floor(date_diff('day', DATE '1995-01-01',
          CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS wk,
        CAST(o_orderdate AS DATE) AS day
      FROM orders),
      weekly AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS s_w,
          CAST(COUNT(DISTINCT day) AS BIGINT) AS nd
        FROM wx GROUP BY wk)"""

  // ------------------------------------------------- SAX symbols
  // SAX symbolization of the weekly order-arrival series: quartile
  // breakpoints (exact percentile_disc picks over the weekly sums)
  // map each week to one of four symbols. The dimensionality
  // reduction that turns a numeric series into a string queryable
  // with plain grouping — downstream of this, pattern mining is
  // count algebra.
  private val q457 = QueryDef(
    "q457_sax_symbolization",
    (s, dir) => {
      val wkly = weekly(s, dir).filter(col("nd") === 7)
      val cuts = wkly.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)")
          .cast(LongType).as("b3"))
      wkly.crossJoin(broadcast(cuts))
        .select(col("wk"), col("s_w"),
          when(col("s_w") <= col("b1"), "a")
            .when(col("s_w") <= col("b2"), "b")
            .when(col("s_w") <= col("b3"), "c")
            .otherwise("d").as("symbol"))
        .orderBy("wk")
    },
    Some(s"""WITH $weeklySql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      cuts AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b2,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b3
        FROM cw)
      SELECT wk, s_w,
        CASE WHEN s_w <= b1 THEN 'a' WHEN s_w <= b2 THEN 'b'
          WHEN s_w <= b3 THEN 'c' ELSE 'd' END AS symbol
      FROM cw CROSS JOIN cuts ORDER BY wk"""),
    covers = Seq("TS-sax"))

  // ------------------------------------------------- SAX motifs
  // Motif mining over the symbolized series: sliding trigrams of
  // consecutive week-symbols, counted exactly — the most frequent
  // words of the series' language ("bbb" = quiet plateau, "add" =
  // spike onset). Top-10 by (count, trigram); first occurrence
  // rides along for drill-down.
  private val q458 = QueryDef(
    "q458_sax_motifs",
    (s, dir) => {
      val sax = graft.SparkEntry
        .queries("q457_sax_symbolization")(s, dir)
      val w = Window.orderBy("wk")
      val tri = sax
        .withColumn("nxt", lead(col("symbol"), 1).over(w))
        .withColumn("nxt2", lead(col("symbol"), 2).over(w))
        .withColumn("wk_next", lead(col("wk"), 1).over(w))
        .withColumn("wk_next2", lead(col("wk"), 2).over(w))
        .filter(col("nxt2").isNotNull &&
          col("wk_next") === col("wk") + 1 &&
          col("wk_next2") === col("wk") + 2)
        .select(col("wk"),
          concat(col("symbol"), col("nxt"), col("nxt2")).as("trigram"))
      tri.groupBy("trigram")
        .agg(count(lit(1)).as("n_occ"), min("wk").as("first_wk"))
        .orderBy(col("n_occ").desc, col("trigram"))
        .limit(10)
    },
    Some(s"""WITH $weeklySql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      cuts AS (SELECT
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b2,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY s_w)
            AS BIGINT) AS b3
        FROM cw),
      sax AS (SELECT wk,
          CASE WHEN s_w <= b1 THEN 'a' WHEN s_w <= b2 THEN 'b'
            WHEN s_w <= b3 THEN 'c' ELSE 'd' END AS symbol
        FROM cw CROSS JOIN cuts),
      tri AS (SELECT wk,
          symbol || lead(symbol, 1) OVER (ORDER BY wk)
            || lead(symbol, 2) OVER (ORDER BY wk) AS trigram,
          lead(wk, 1) OVER (ORDER BY wk) AS wk_next,
          lead(wk, 2) OVER (ORDER BY wk) AS wk_next2
        FROM sax)
      SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n_occ,
        CAST(MIN(wk) AS BIGINT) AS first_wk
      FROM tri
      WHERE trigram IS NOT NULL AND wk_next = wk + 1
        AND wk_next2 = wk + 2
      GROUP BY trigram ORDER BY n_occ DESC, trigram LIMIT 10"""),
    covers = Seq("TS-motif"))

  // ------------------------------------------------- 1-D discord
  // Discord detection: the weeks most unlike every other week — 1-D
  // nearest-neighbor distance on weekly totals, computed exactly
  // from the two value-order neighbors after a sort (the 1-D
  // specialization of matrix-profile discords: O(n log n), not
  // O(n²)). Top-5 by (gap, wk).
  private val q459 = QueryDef(
    "q459_series_discord",
    (s, dir) => {
      val wkly = weekly(s, dir).filter(col("nd") === 7).select("wk", "s_w")
      val w = Window.orderBy(col("s_w"), col("wk"))
      val nn = wkly
        .withColumn("prev", lag(col("s_w"), 1).over(w))
        .withColumn("nxt", lead(col("s_w"), 1).over(w))
        .withColumn("nn_gap",
          least(coalesce(abs(col("s_w") - col("prev")), lit(Long.MaxValue)),
            coalesce(abs(col("s_w") - col("nxt")), lit(Long.MaxValue))))
      val wr = Window.orderBy(col("nn_gap").desc, col("wk"))
      nn.withColumn("rnk", row_number().over(wr).cast(LongType))
        .filter(col("rnk") <= 5)
        .select(col("rnk"), col("wk"), col("s_w"), col("nn_gap"))
        .orderBy("rnk")
    },
    Some(s"""WITH $weeklySql,
      cw AS (SELECT wk, s_w FROM weekly WHERE nd = 7),
      nn AS (SELECT wk, s_w,
          LEAST(
            COALESCE(ABS(s_w - lag(s_w, 1) OVER (ORDER BY s_w, wk)),
              9223372036854775807),
            COALESCE(ABS(s_w - lead(s_w, 1) OVER (ORDER BY s_w, wk)),
              9223372036854775807)) AS nn_gap
        FROM cw),
      r AS (SELECT wk, s_w, nn_gap,
          CAST(row_number() OVER (ORDER BY nn_gap DESC, wk) AS BIGINT)
            AS rnk
        FROM nn)
      SELECT rnk, wk, s_w, nn_gap FROM r WHERE rnk <= 5
      ORDER BY rnk"""),
    covers = Seq("TS-discord"))

  // ------------------------------------------------- dow bands
  // Seasonal reference bands: per day-of-week, the quartile profile
  // of daily order counts plus a 3×IQR outlier census — all integer
  // arithmetic (the band edges are exact, so membership never
  // depends on a float). Spark's dayofweek is 1=Sunday; minus 1
  // aligns it with DuckDB's 0=Sunday.
  private val q460 = QueryDef(
    "q460_dow_profile_bands",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .select((dayofweek(col("day")) - 1).cast(LongType).as("dow"),
          col("cnt"))
      val prof = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_days"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("q1"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("med"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY cnt)")
            .cast(LongType).as("q3"))
      daily.join(broadcast(prof), Seq("dow"))
        .groupBy("dow", "n_days", "q1", "med", "q3")
        .agg(sum(when(col("cnt") > col("q3") +
            lit(3L) * (col("q3") - col("q1")), 1L).otherwise(0L))
            .as("n_hi_outliers"),
          sum(when(col("cnt") < col("q1") -
            lit(3L) * (col("q3") - col("q1")), 1L).otherwise(0L))
            .as("n_lo_outliers"))
        .orderBy("dow")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
      dd AS (SELECT CAST(dayofweek(day) AS BIGINT) AS dow, cnt
        FROM daily),
      prof AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS q1,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS med,
          CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cnt)
            AS BIGINT) AS q3
        FROM dd GROUP BY dow)
      SELECT d.dow, p.n_days, p.q1, p.med, p.q3,
        CAST(COUNT(*) FILTER (WHERE d.cnt > p.q3 + 3 * (p.q3 - p.q1))
          AS BIGINT) AS n_hi_outliers,
        CAST(COUNT(*) FILTER (WHERE d.cnt < p.q1 - 3 * (p.q3 - p.q1))
          AS BIGINT) AS n_lo_outliers
      FROM dd d JOIN prof p ON p.dow = d.dow
      GROUP BY d.dow, p.n_days, p.q1, p.med, p.q3
      ORDER BY d.dow"""),
    covers = Seq("TS-dow-bands"))

  // ------------------------------------------------- turning points
  // Turning-points test per segment: count strict local extrema of
  // the daily series; an exchangeable series expects 2(n−2)/3 of
  // them, so the standardized excess z = (3T − 2(n−2)) /
  // (3·sqrt((16n−29)/90)) flags over-smoothing (too few turns,
  // momentum) or over-dithering (too many, oscillation). Exact
  // integer T and n; one sqrt, one division.
  private val q461 = QueryDef(
    "q461_turning_points",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("segment").orderBy("day")
      daily
        .withColumn("prev", lag(col("cnt"), 1).over(w))
        .withColumn("nxt", lead(col("cnt"), 1).over(w))
        .filter(col("prev").isNotNull && col("nxt").isNotNull)
        .groupBy("segment")
        .agg((count(lit(1)) + 2L).as("n_days"),
          sum(when((col("cnt") - col("prev")) *
            (col("nxt") - col("cnt")) < 0, 1L).otherwise(0L)).as("t_turns"))
        .select(col("segment"), col("n_days"), col("t_turns"),
          ((lit(3L) * col("t_turns") -
            lit(2L) * (col("n_days") - 2L)).cast("double") /
            (lit(3.0) * sqrt((lit(16L) * col("n_days") - 29L)
              .cast("double") / lit(90.0)))).as("z"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      x AS (SELECT segment, cnt,
          lag(cnt, 1) OVER (PARTITION BY segment ORDER BY day) AS prev,
          lead(cnt, 1) OVER (PARTITION BY segment ORDER BY day) AS nxt
        FROM daily),
      agg AS (SELECT segment,
          CAST(COUNT(*) + 2 AS BIGINT) AS n_days,
          CAST(COUNT(*) FILTER (WHERE (cnt - prev) * (nxt - cnt) < 0)
            AS BIGINT) AS t_turns
        FROM x WHERE prev IS NOT NULL AND nxt IS NOT NULL
        GROUP BY segment)
      SELECT segment, n_days, t_turns,
        CAST(3 * t_turns - 2 * (n_days - 2) AS DOUBLE) /
          (3.0 * sqrt(CAST(16 * n_days - 29 AS DOUBLE) / 90.0)) AS z
      FROM agg ORDER BY segment"""),
    covers = Seq("TS-turning-points"))

  // ------------------------------------------------- month-end effect
  // Do orders pile up at month end (quota-chasing)? Mean daily
  // volume over each month's last 3 calendar days vs the rest, per
  // segment — the ratio folds to S_end·n_rest/(n_end·S_rest), one
  // exact-integer division. last_day() on both engines decides
  // membership identically.
  private val q464 = QueryDef(
    "q464_month_end_effect",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val daily = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .groupBy(col("segment"), to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("is_end",
          datediff(last_day(col("day")), col("day")) <= 2)
      daily.groupBy("segment")
        .agg(sum(when(col("is_end"), col("cnt")).otherwise(0L)).as("s_end"),
          sum(when(col("is_end"), 1L).otherwise(0L)).as("n_end"),
          sum(when(!col("is_end"), col("cnt")).otherwise(0L)).as("s_rest"),
          sum(when(!col("is_end"), 1L).otherwise(0L)).as("n_rest"))
        .select(col("segment"), col("s_end"), col("n_end"), col("s_rest"),
          col("n_rest"),
          ((col("s_end") * col("n_rest")).cast("double") /
            (col("n_end") * col("s_rest")).cast("double")).as("end_lift"))
        .orderBy("segment")
    },
    Some("""WITH daily AS (SELECT c.c_mktsegment AS segment,
          CAST(o.o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      d AS (SELECT segment, cnt,
          (date_diff('day', day, last_day(day)) <= 2) AS is_end
        FROM daily)
      SELECT segment,
        CAST(SUM(CASE WHEN is_end THEN cnt ELSE 0 END) AS BIGINT)
          AS s_end,
        CAST(COUNT(*) FILTER (WHERE is_end) AS BIGINT) AS n_end,
        CAST(SUM(CASE WHEN NOT is_end THEN cnt ELSE 0 END) AS BIGINT)
          AS s_rest,
        CAST(COUNT(*) FILTER (WHERE NOT is_end) AS BIGINT) AS n_rest,
        CAST(SUM(CASE WHEN is_end THEN cnt ELSE 0 END) *
            COUNT(*) FILTER (WHERE NOT is_end) AS DOUBLE) /
          CAST(COUNT(*) FILTER (WHERE is_end) *
            SUM(CASE WHEN NOT is_end THEN cnt ELSE 0 END) AS DOUBLE)
          AS end_lift
      FROM d GROUP BY segment ORDER BY segment"""),
    covers = Seq("TS-month-end"))

  /** Daily global order counts (day, di, dow, x). */
  private def dailyOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("day"),
        datediff(col("day"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("di"),
        (dayofweek(col("day")) - 1).cast(LongType).as("dow"), col("x"))

  private val dailySql: String =
    """daily AS (SELECT day, CAST(date_diff('day', DATE '1995-01-01',
          day) AS BIGINT) AS di,
        CAST(dayofweek(day) AS BIGINT) AS dow, x
      FROM (SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1))"""

  /** Complete-week totals (wk, s_w), consecutive from week 0. */
  private def fullWeeks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(floor(datediff(to_date(col("o_orderdate")),
        lit("1995-01-01").cast(DateType)) / lit(7.0))
        .cast(LongType).as("wk"),
        to_date(col("o_orderdate")).as("day"))
      .groupBy("wk")
      .agg(count(lit(1)).as("s_w"), countDistinct("day").as("nd"))
      .filter(col("nd") === 7)
      .select("wk", "s_w")

  private val fullWeeksSql: String =
    """weekly AS (SELECT wk, s_w FROM (
        SELECT CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(COUNT(*) AS BIGINT) AS s_w,
          CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
            AS nd
        FROM orders GROUP BY 1) WHERE nd = 7)"""

  // ------------------------------------------------- decomposition
  // Classical additive seasonal decomposition, all-exact: trend =
  // centered 29-day moving sum over 29 (a rational), detrended
  // numerator 29·x − trend_num (an integer), day-of-week seasonal
  // effect Σdetr_num/(29·n_dow) — one division per dow at the very
  // end. The x = trend + seasonal + residual ledger without a single
  // float accumulation.
  private val q477 = QueryDef(
    "q477_seasonal_decompose",
    (s, dir) => {
      val d = dailyOrders(s, dir)
      val w = Window.orderBy("di").rowsBetween(-14, 14)
      val detr = d
        .withColumn("tnum", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 29)
        .withColumn("dnum", lit(29L) * col("x") - col("tnum"))
      detr.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("dnum").as("snum"))
        .select(col("dow"), col("n_days"),
          (col("snum").cast("double") /
            (lit(29L) * col("n_days")).cast("double"))
            .as("seasonal_effect"))
        .orderBy("dow")
    },
    Some(s"""WITH $dailySql,
      detr AS (SELECT dow,
          29 * x - CAST(SUM(x) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT)
            AS dnum,
          COUNT(*) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS nw
        FROM daily)
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(dnum) AS DOUBLE) /
          CAST(29 * COUNT(*) AS DOUBLE) AS seasonal_effect
      FROM detr WHERE nw = 29 GROUP BY dow ORDER BY dow"""),
    covers = Seq("TS-seasonal-decompose"))

  // ------------------------------------------------- SES
  // Simple exponential smoothing over the weekly series, α = 0.2:
  // the level recurrence folds left over weeks on the Spark driver
  // and runs as a RECURSIVE CTE in DuckDB — the same sequential
  // float chain, so the final level and the holdout MAE (|errors|
  // folded in week order) are bit-identical. One-step-ahead errors
  // score the last 52 weeks.
  private val q478 = QueryDef(
    "q478_ses_forecast",
    (s, dir) => {
      // complete weeks re-indexed densely (the calendar has gap
      // weeks), so the sequential chain never breaks — mirrored by
      // the oracle's row_number re-index
      // bounded-collect: weekly series — O(calendar weeks), not corpus
      val wk = fullWeeks(s, dir).orderBy("wk")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val alpha = 0.2
      var level = wk.head._2.toDouble
      val n = wk.length
      val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (i <- 1 until n) {
        val x = wk(i)._2.toDouble
        if (i >= n - 52) errs += math.abs(x - level)
        level = alpha * x + (1.0 - alpha) * level
      }
      // a 0/1-week series has no one-step errors; the oracle's
      // list_reduce over an empty list is NULL — mirror it instead of
      // throwing (only reachable below the gate SF, e.g. sf0.001)
      val mae: Option[Double] =
        if (errs.isEmpty) None else Some(errs.reduceLeft(_ + _) / 52.0)
      import s.implicits._
      Seq((n.toLong, level, mae))
        .toDF("n_weeks", "final_level", "mae_52")
    },
    Some(s"""WITH RECURSIVE $fullWeeksSql,
      wt AS (SELECT s_w, CAST(row_number() OVER (ORDER BY wk)
          AS BIGINT) AS t FROM weekly),
      bounds AS (SELECT MAX(t) AS tmax FROM wt),
      ses AS (
        SELECT w.t, CAST(w.s_w AS DOUBLE) AS level
        FROM wt w WHERE w.t = 1
        UNION ALL
        SELECT w.t,
          CAST(0.2 AS DOUBLE) * CAST(w.s_w AS DOUBLE) +
            CAST(0.8 AS DOUBLE) * s.level
        FROM wt w JOIN ses s ON w.t = s.t + 1),
      errs AS (SELECT w.t, ABS(CAST(w.s_w AS DOUBLE) - s.level) AS e
        FROM wt w JOIN ses s ON s.t = w.t - 1, bounds b
        WHERE w.t > b.tmax - 52)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wt) AS n_weeks,
        (SELECT level FROM ses, bounds b WHERE t = b.tmax)
          AS final_level,
        (SELECT list_reduce(list(e ORDER BY t), (a, b) -> a + b) / 52.0
          FROM errs) AS mae_52"""),
    covers = Seq("TS-ses"))

  // ------------------------------------------------- forecast battery
  // The honest baselines every forecast must beat, scored on the
  // last 52 complete weeks with EXACT arithmetic: naive (last train
  // value), seasonal-naive (52 weeks prior), drift (linear through
  // first/last train points — errors scaled by T−1 stay integral).
  // Each MAE is one terminal division.
  private val q479 = QueryDef(
    "q479_forecast_battery",
    (s, dir) => {
      val wkAll = fullWeeks(s, dir).localCheckpoint()
      val maxWk = wkAll.agg(max("wk").as("wmax"))
      val wk = wkAll.crossJoin(broadcast(maxWk))
      val train = wk.filter(col("wk") <= col("wmax") - 52)
      val t0 = train.agg(min("wk").as("w1"), max("wk").as("wt"))
      val anchors = train.crossJoin(broadcast(t0))
        .agg(max(when(col("wk") === col("w1"), col("s_w"))).as("y1"),
          max(when(col("wk") === col("wt"), col("s_w"))).as("yt"),
          max("w1").as("w1"), max("wt").as("wt"))
      val test = wk.filter(col("wk") > col("wmax") - 52)
        .select(col("wk"), col("s_w"))
      val lagged = test.join(
        wkAll.select((col("wk") + 52L).as("wk"), col("s_w").as("y_prev")),
        Seq("wk"))
      val sn = lagged.agg(count(lit(1)).as("n"),
        sum(abs(col("s_w") - col("y_prev"))).as("sae"))
        .select(lit("2_seasonal_naive").as("method"),
          (col("sae").cast("double") / col("n").cast("double")).as("mae"))
      val nv = test.crossJoin(broadcast(anchors))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("s_w") - col("yt"))).as("sae"))
        .select(lit("1_naive").as("method"),
          (col("sae").cast("double") / col("n").cast("double")).as("mae"))
      val dr = test.crossJoin(broadcast(anchors))
        .withColumn("span", col("wt") - col("w1"))
        .withColumn("enum",
          abs(col("span") * (col("s_w") - col("yt")) -
            (col("wk") - col("wt")) * (col("yt") - col("y1"))))
        .agg(count(lit(1)).as("n"), sum("enum").as("se"),
          max("span").as("span"))
        .select(lit("3_drift").as("method"),
          (col("se").cast("double") /
            (col("n") * col("span")).cast("double")).as("mae"))
      nv.unionAll(sn).unionAll(dr).orderBy("method")
    },
    Some(s"""WITH $fullWeeksSql,
      bounds AS (SELECT MAX(wk) AS wmax FROM weekly),
      train AS (SELECT w.wk, w.s_w FROM weekly w, bounds b
        WHERE w.wk <= b.wmax - 52),
      t0 AS (SELECT MIN(wk) AS w1, MAX(wk) AS wt FROM train),
      anchors AS (SELECT
          MAX(CASE WHEN tr.wk = t0.w1 THEN tr.s_w END) AS y1,
          MAX(CASE WHEN tr.wk = t0.wt THEN tr.s_w END) AS yt,
          MAX(t0.w1) AS w1, MAX(t0.wt) AS wt
        FROM train tr CROSS JOIN t0),
      test AS (SELECT w.wk, w.s_w FROM weekly w, bounds b
        WHERE w.wk > b.wmax - 52),
      sn AS (SELECT '2_seasonal_naive' AS method,
          CAST(SUM(ABS(t.s_w - p.s_w)) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS mae
        FROM test t JOIN weekly p ON p.wk = t.wk - 52),
      nv AS (SELECT '1_naive' AS method,
          CAST(SUM(ABS(t.s_w - a.yt)) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS mae
        FROM test t CROSS JOIN anchors a),
      dr AS (SELECT '3_drift' AS method,
          CAST(SUM(ABS((a.wt - a.w1) * (t.s_w - a.yt) -
            (t.wk - a.wt) * (a.yt - a.y1))) AS DOUBLE) /
            CAST(COUNT(*) * MAX(a.wt - a.w1) AS DOUBLE) AS mae
        FROM test t CROSS JOIN anchors a)
      SELECT method, mae FROM nv UNION ALL
      SELECT method, mae FROM sn UNION ALL
      SELECT method, mae FROM dr ORDER BY method"""),
    covers = Seq("TS-forecast-battery"))

  // ------------------------------------------------- intermittency
  // Syntetos-Boylan demand classification per part: ADI (weeks per
  // demand week) vs 1.32 and CV² of nonzero weekly quantities vs
  // 0.49, both decided by cross-multiplied INTEGER comparisons
  // (100·T vs 132·n; 100·(nΣq²−S²) vs 49·S²). The
  // smooth/intermittent/erratic/lumpy quadrant census that picks
  // the forecasting method per SKU.
  private val q480 = QueryDef(
    "q480_intermittency_census",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType).as("wk"),
          dec(col("l_quantity")).cast(LongType)
            .as("qty"))
      val span = li.agg((max("wk") - min("wk") + 1L).as("t_weeks"))
      val perWeek = li.groupBy("l_partkey", "wk")
        .agg(sum("qty").as("q"))
      val stats = perWeek.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sq2"))
        .crossJoin(broadcast(span))
      val classed = stats.withColumn("high_adi",
          lit(100L) * col("t_weeks") > lit(132L) * col("n"))
        .withColumn("high_cv",
          lit(100L) * (col("n") * col("sq2") - col("sq") * col("sq")) >
            lit(49L) * (col("sq") * col("sq")))
        .withColumn("class",
          when(!col("high_adi") && !col("high_cv"), "1_smooth")
            .when(col("high_adi") && !col("high_cv"), "2_intermittent")
            .when(!col("high_adi") && col("high_cv"), "3_erratic")
            .otherwise("4_lumpy"))
      val tot = classed.agg(count(lit(1)).as("np"))
      classed.groupBy("class").agg(count(lit(1)).as("n_parts"))
        .crossJoin(broadcast(tot))
        .select(col("class"), col("n_parts"),
          (col("n_parts").cast("double") / col("np").cast("double"))
            .as("share"))
        .orderBy("class")
    },
    Some("""WITH li AS (SELECT l_partkey,
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
        FROM lineitem),
      span AS (SELECT MAX(wk) - MIN(wk) + 1 AS t_weeks FROM li),
      per_week AS (SELECT l_partkey, wk, CAST(SUM(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2),
      stats AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(q) AS BIGINT) AS sq,
          CAST(SUM(q * q) AS BIGINT) AS sq2
        FROM per_week GROUP BY 1),
      classed AS (SELECT l_partkey,
          CASE WHEN NOT (100 * sp.t_weeks > 132 * st.n)
              AND NOT (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '1_smooth'
            WHEN (100 * sp.t_weeks > 132 * st.n)
              AND NOT (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '2_intermittent'
            WHEN NOT (100 * sp.t_weeks > 132 * st.n)
              AND (100 * (st.n * st.sq2 - st.sq * st.sq) >
                49 * (st.sq * st.sq)) THEN '3_erratic'
            ELSE '4_lumpy' END AS class
        FROM stats st CROSS JOIN span sp)
      SELECT class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(COUNT(*) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM classed) AS DOUBLE) AS share
      FROM classed GROUP BY class ORDER BY class"""),
    covers = Seq("TS-intermittency"))

  // ------------------------------------------------- seasonal strength
  // Hyndman's seasonal-strength F_s = max(0, 1 − Var(resid)/
  // Var(detrended)): residuals subtract the q477 dow effect from
  // each detrended day. Per-day values are identical double trees;
  // both variances fold over days in di order (aggregate HOF ≡
  // list_reduce), so even the two-pass variance is bit-stable.
  private val q481 = QueryDef(
    "q481_seasonal_strength",
    (s, dir) => {
      val d = dailyOrders(s, dir)
      val w = Window.orderBy("di").rowsBetween(-14, 14)
      val detr = d
        .withColumn("tnum", sum("x").over(w))
        .withColumn("nw", count(lit(1)).over(w))
        .filter(col("nw") === 29)
        .withColumn("detr",
          (lit(29L) * col("x") - col("tnum")).cast("double") / lit(29.0))
        .localCheckpoint()
      val seas = detr
        .withColumn("dnum", lit(29L) * col("x") - col("tnum"))
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("dnum").as("snum"))
        .select(col("dow"),
          (col("snum").cast("double") /
            (lit(29L) * col("n_days")).cast("double")).as("se"))
      val rows = detr.join(broadcast(seas), Seq("dow"))
        .select(col("di"), col("detr"),
          (col("detr") - col("se")).as("resid"))
      val folded = rows
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("di"), col("detr"))))
            .as("dl"),
          sort_array(collect_list(struct(col("di"), col("resid"))))
            .as("rl"))
        .withColumn("sd",
          aggregate(col("dl"), lit(0.0), (a, e) => a + e.getField("detr")))
        .withColumn("sd2",
          aggregate(col("dl"), lit(0.0),
            (a, e) => a + e.getField("detr") * e.getField("detr")))
        .withColumn("sr",
          aggregate(col("rl"), lit(0.0), (a, e) => a + e.getField("resid")))
        .withColumn("sr2",
          aggregate(col("rl"), lit(0.0),
            (a, e) => a + e.getField("resid") * e.getField("resid")))
      folded.select(col("n"),
          ((col("sd2") - col("sd") * col("sd") / col("n").cast("double")) /
            col("n").cast("double")).as("var_detr"),
          ((col("sr2") - col("sr") * col("sr") / col("n").cast("double")) /
            col("n").cast("double")).as("var_resid"))
        .withColumn("seasonal_strength",
          greatest(lit(0.0), lit(1.0) - col("var_resid") / col("var_detr")))
    },
    Some(s"""WITH $dailySql,
      detr0 AS (SELECT di, dow, x,
          CAST(SUM(x) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS BIGINT)
            AS tnum,
          COUNT(*) OVER (ORDER BY di
            ROWS BETWEEN 14 PRECEDING AND 14 FOLLOWING) AS nw
        FROM daily),
      detr AS (SELECT di, dow, x, tnum,
          CAST(29 * x - tnum AS DOUBLE) / 29.0 AS detr
        FROM detr0 WHERE nw = 29),
      seas AS (SELECT dow,
          CAST(SUM(29 * x - tnum) AS DOUBLE) /
            CAST(29 * COUNT(*) AS DOUBLE) AS se
        FROM detr GROUP BY dow),
      rows_ AS (SELECT d.di, d.detr, d.detr - s.se AS resid
        FROM detr d JOIN seas s ON s.dow = d.dow),
      folded AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          list_reduce(list(detr ORDER BY di), (a, b) -> a + b) AS sd,
          list_reduce(list(detr * detr ORDER BY di),
            (a, b) -> a + b) AS sd2,
          list_reduce(list(resid ORDER BY di), (a, b) -> a + b) AS sr,
          list_reduce(list(resid * resid ORDER BY di),
            (a, b) -> a + b) AS sr2
        FROM rows_)
      SELECT n,
        (sd2 - sd * sd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
          AS var_detr,
        (sr2 - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
          AS var_resid,
        greatest(0.0, 1.0 -
          ((sr2 - sr * sr / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) /
          ((sd2 - sd * sd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))
          AS seasonal_strength
      FROM folded"""),
    covers = Seq("TS-seasonal-strength"))

  // ------------------------------------------------- DP contribution
  // Contribution bounding for a DP release of per-type event counts:
  // per event_type, the max and P99 per-user contribution (exact
  // integer picks), P99 as the suggested clip, and the exact count
  // mass clipping would discard — the sensitivity/utility trade
  // table a DP-SQL engine needs BEFORE calibrating noise.
  private val q497 = QueryDef(
    "q497_dp_contribution",
    (s, dir) => {
      val contrib = t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      val prof = contrib.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum("c").as("true_total"),
          max("c").as("max_contrib"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast(LongType).as("clip"))
      contrib.join(broadcast(prof), Seq("event_type"))
        .groupBy("event_type", "n_users", "true_total", "max_contrib",
          "clip")
        .agg(sum(least(col("c"), col("clip"))).as("clipped_total"))
        .select(col("event_type"), col("n_users"), col("true_total"),
          col("max_contrib"), col("clip"), col("clipped_total"),
          ((col("true_total") - col("clipped_total")).cast("double") /
            col("true_total").cast("double")).as("loss_share"))
        .orderBy("event_type")
    },
    Some("""WITH contrib AS (SELECT event_type, user_id,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      prof AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(c) AS BIGINT) AS true_total,
          CAST(MAX(c) AS BIGINT) AS max_contrib,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c)
            AS BIGINT) AS clip
        FROM contrib GROUP BY 1)
      SELECT c.event_type, p.n_users, p.true_total, p.max_contrib,
        p.clip, CAST(SUM(LEAST(c.c, p.clip)) AS BIGINT)
          AS clipped_total,
        CAST(p.true_total - SUM(LEAST(c.c, p.clip)) AS DOUBLE) /
          CAST(p.true_total AS DOUBLE) AS loss_share
      FROM contrib c JOIN prof p ON p.event_type = c.event_type
      GROUP BY c.event_type, p.n_users, p.true_total, p.max_contrib,
        p.clip
      ORDER BY c.event_type"""),
    covers = Seq("PRIV-contribution-bound"))

  private def segJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")), Seq("o_custkey"))

  // ------------------------------------------------- diff-in-diff
  // Canonical 2×2 DiD: BUILDING customers (treated) vs the rest,
  // 1996–97 pre vs 1998–99 post, outcome = mean order value. Four
  // exact-ratio cell means, one subtraction tree — the
  // parallel-trends workhorse. The pre-period gap rides along as
  // the trend diagnostic.
  private val q502 = QueryDef(
    "q502_diff_in_diff",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select((col("segment") === "BUILDING").as("treated"),
          cents.as("y"), year(to_date(col("o_orderdate"))).as("yr"))
        .filter(col("yr") >= 1996 && col("yr") <= 1999)
        .withColumn("post", col("yr") >= 1998)
      val cells = o.groupBy("treated", "post")
        .agg(sum("y").as("sy"), count(lit(1)).as("n"))
        .withColumn("mu",
          col("sy").cast("double") / col("n").cast("double"))
      val wide = cells.agg(
        max(when(col("treated") && col("post"), col("mu"))).as("t_post"),
        max(when(col("treated") && !col("post"), col("mu"))).as("t_pre"),
        max(when(!col("treated") && col("post"), col("mu"))).as("c_post"),
        max(when(!col("treated") && !col("post"), col("mu"))).as("c_pre"))
      wide.select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_cents"),
        (col("t_pre") - col("c_pre")).as("pre_gap_cents"))
    },
    Some("""WITH o AS (SELECT
          (c.c_mktsegment = 'BUILDING') AS treated,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          (year(CAST(o.o_orderdate AS DATE)) >= 1998) AS post
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE year(CAST(o.o_orderdate AS DATE)) BETWEEN 1996 AND 1999),
      cells AS (SELECT treated, post,
          CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        FROM o GROUP BY 1, 2),
      wide AS (SELECT
          MAX(CASE WHEN treated AND post THEN mu END) AS t_post,
          MAX(CASE WHEN treated AND NOT post THEN mu END) AS t_pre,
          MAX(CASE WHEN NOT treated AND post THEN mu END) AS c_post,
          MAX(CASE WHEN NOT treated AND NOT post THEN mu END) AS c_pre
        FROM cells)
      SELECT t_pre, t_post, c_pre, c_post,
        (t_post - t_pre) - (c_post - c_pre) AS did_cents,
        t_pre - c_pre AS pre_gap_cents
      FROM wide"""),
    covers = Seq("CAUSAL-did"))

  // ------------------------------------------------- stratified ATE
  // Stratified treatment-effect estimate: urgent-priority orders
  // (treated) vs others within each segment stratum, pooled with
  // stratum-share weights. Per-stratum effects are exact-ratio
  // differences; the pooled ATE folds Σ w_h·Δ_h in segment order —
  // the Neyman-stratified estimator that a raw mean-difference
  // confounds.
  private val q503 = QueryDef(
    "q503_stratified_ate",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select(col("segment"),
          (col("o_orderpriority") === "1-URGENT").as("tr"), cents.as("y"))
      val strata = o.groupBy("segment")
        .agg(count(lit(1)).as("n_h"),
          sum(when(col("tr"), col("y"))).as("s1"),
          sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("tr"), col("y"))).as("s0"),
          sum(when(!col("tr"), 1L).otherwise(0L)).as("n0"))
        .withColumn("effect",
          col("s1").cast("double") / col("n1").cast("double") -
            col("s0").cast("double") / col("n0").cast("double"))
        .localCheckpoint()
      val pooled = strata
        .agg(sum("n_h").as("n"),
          sort_array(collect_list(struct(col("segment"), col("n_h"),
            col("effect")))).as("sl"))
        .withColumn("wsum",
          aggregate(col("sl"), lit(0.0), (a, e) =>
            a + e.getField("n_h").cast("double") * e.getField("effect")))
        .select((col("wsum") / col("n").cast("double")).as("ate"))
      strata.crossJoin(broadcast(pooled))
        .select(col("segment"), col("n_h"), col("n1"), col("n0"),
          col("effect").as("effect_cents"), col("ate").as("ate_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          (o.o_orderpriority = '1-URGENT') AS tr,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      strata AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_h,
          CAST(SUM(CASE WHEN tr THEN y END) AS BIGINT) AS s1,
          CAST(COUNT(*) FILTER (WHERE tr) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN NOT tr THEN y END) AS BIGINT) AS s0,
          CAST(COUNT(*) FILTER (WHERE NOT tr) AS BIGINT) AS n0
        FROM o GROUP BY 1),
      eff AS (SELECT *,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
            CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS effect
        FROM strata),
      pooled AS (SELECT
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(n_h AS DOUBLE) * effect ORDER BY segment)),
            (a, b) -> a + b) /
            CAST(SUM(n_h) AS DOUBLE) AS ate
        FROM eff)
      SELECT e.segment, e.n_h, e.n1, e.n0,
        e.effect AS effect_cents, p.ate AS ate_cents
      FROM eff e CROSS JOIN pooled p ORDER BY e.segment"""),
    covers = Seq("CAUSAL-stratified-ate"))

  // ------------------------------------------------- RDD (sharp)
  // Local-linear regression discontinuity at the $15,000 order-value
  // threshold, outcome = line count per order, bandwidth $2,000:
  // each side fits y = α + βx (x centered at the cutoff) by exact
  // 2×2 Cramer — α̂ = (Σy·Σx² − Σx·Σxy)/(nΣx² − (Σx)²), one double
  // division per side — and the RD estimate is α̂₊ − α̂₋. The naive
  // mean jump rides along to show the slope-bias it hides.
  private val q505 = QueryDef(
    "q505_regression_discontinuity",
    (s, dir) => {
      val thr = 1500000L
      val hbw = 200000L
      val lines = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("y"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), cents.as("v"))
        .join(lines, Seq("o_orderkey"))
        .withColumn("x", col("v") - thr)
        .filter(col("x") >= -hbw && col("x") < hbw)
        .withColumn("right", col("x") >= 0L)
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val sides = o.groupBy("right")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(d38(col("x")) * d38(col("x"))).as("sxx"),
          sum("y").as("sy"),
          sum(d38(col("x")) * d38(col("y"))).as("sxy"))
        .withColumn("alpha",
          (d38(col("sy")) * col("sxx") - d38(col("sx")) * col("sxy"))
            .cast("double") /
          (d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
            .cast("double"))
        .withColumn("mu", col("sy").cast("double") / col("n").cast("double"))
      val wide = sides.agg(
        max(when(col("right"), col("alpha"))).as("a_right"),
        max(when(!col("right"), col("alpha"))).as("a_left"),
        max(when(col("right"), col("mu"))).as("mu_right"),
        max(when(!col("right"), col("mu"))).as("mu_left"),
        max(when(col("right"), col("n"))).as("n_right"),
        max(when(!col("right"), col("n"))).as("n_left"))
      wide.select(col("n_left"), col("n_right"),
        (col("mu_right") - col("mu_left")).as("naive_jump"),
        (col("a_right") - col("a_left")).as("rd_estimate"))
    },
    Some("""WITH lines AS (SELECT l_orderkey AS o_orderkey,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      o AS (SELECT
          CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            - 1500000 AS x,
          l.y
        FROM orders od JOIN lines l ON l.o_orderkey = od.o_orderkey
        WHERE CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) - 1500000 >= -200000
          AND CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100
            AS BIGINT) - 1500000 < 200000),
      sides AS (SELECT (x >= 0) AS right_side,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          CAST(SUM(y) AS BIGINT) AS sy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM o GROUP BY 1),
      fit AS (SELECT right_side, n, sy,
          CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
            AS DOUBLE) /
          CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
            AS DOUBLE) AS alpha,
          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        FROM sides)
      SELECT
        MAX(CASE WHEN NOT right_side THEN n END) AS n_left,
        MAX(CASE WHEN right_side THEN n END) AS n_right,
        MAX(CASE WHEN right_side THEN mu END) -
          MAX(CASE WHEN NOT right_side THEN mu END) AS naive_jump,
        MAX(CASE WHEN right_side THEN alpha END) -
          MAX(CASE WHEN NOT right_side THEN alpha END) AS rd_estimate
      FROM fit"""),
    covers = Seq("CAUSAL-rdd"))

  // ------------------------------------------------- event study
  // Dynamic DiD: the treated-minus-control gap per quarter around
  // the 1998Q1 event, re-based to 1997Q4 — the coefficient series
  // whose flat pre-period IS the parallel-trends test. Quarterly
  // cell means are exact ratios; each coefficient is a fixed
  // four-term tree.
  private val q506 = QueryDef(
    "q506_event_study",
    (s, dir) => {
      val o = segJoin(s, dir)
        .select((col("segment") === "BUILDING").as("treated"),
          cents.as("y"),
          (year(to_date(col("o_orderdate"))) * 4 +
            quarter(to_date(col("o_orderdate"))) - 1).cast(LongType)
            .as("q"))
        .filter(col("q") >= 1997L * 4 && col("q") <= 1999L * 4 + 3)
      val cells = o.groupBy("q", "treated")
        .agg(sum("y").as("sy"), count(lit(1)).as("n"))
        .withColumn("mu",
          col("sy").cast("double") / col("n").cast("double"))
      val gaps = cells.groupBy("q")
        .agg(max(when(col("treated"), col("mu"))).as("mu_t"),
          max(when(!col("treated"), col("mu"))).as("mu_c"))
        .withColumn("gap", col("mu_t") - col("mu_c"))
        .localCheckpoint()
      val base = gaps.filter(col("q") === 1997L * 4 + 3)
        .select(col("gap").as("base_gap"))
      gaps.crossJoin(broadcast(base))
        .select(col("q").as("quarter_idx"),
          (col("q") - (1998L * 4)).as("rel_quarter"),
          col("gap"), (col("gap") - col("base_gap")).as("coef_cents"))
        .orderBy("quarter_idx")
    },
    Some("""WITH o AS (SELECT
          (c.c_mktsegment = 'BUILDING') AS treated,
          CAST(CAST(od.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y,
          CAST(year(CAST(od.o_orderdate AS DATE)) * 4 +
            quarter(CAST(od.o_orderdate AS DATE)) - 1 AS BIGINT) AS q
        FROM orders od JOIN customer c ON c.c_custkey = od.o_custkey
        WHERE CAST(year(CAST(od.o_orderdate AS DATE)) * 4 +
            quarter(CAST(od.o_orderdate AS DATE)) - 1 AS BIGINT)
          BETWEEN 1997 * 4 AND 1999 * 4 + 3),
      cells AS (SELECT q, treated,
          CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        FROM o GROUP BY 1, 2),
      gaps AS (SELECT q,
          MAX(CASE WHEN treated THEN mu END) -
            MAX(CASE WHEN NOT treated THEN mu END) AS gap
        FROM cells GROUP BY q),
      base AS (SELECT gap AS base_gap FROM gaps
        WHERE q = 1997 * 4 + 3)
      SELECT g.q AS quarter_idx, g.q - 1998 * 4 AS rel_quarter,
        g.gap, g.gap - b.base_gap AS coef_cents
      FROM gaps g CROSS JOIN base b ORDER BY quarter_idx"""),
    covers = Seq("CAUSAL-event-study"))

  // Robust and temporal econometrics: every statistic a fixed tree over
  // exact weekly moments (Theil-Sen's pairwise-slope doubles are single
  // divisions of exact integers, the median a percentile_disc pick; IPF
  // column refits fold in segment order).
  /** Weekly (wk, qty, disc4, n_orders) totals — exact integers. */
  private def weeklyLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        floor(datediff(to_date(col("l_shipdate")),
          lit("1995-01-01").cast(DateType)) / lit(7.0))
          .cast(LongType).as("wk"),
        dec(col("l_quantity")).cast(LongType)
          .as("qty"),
        ((dec(col("l_extendedprice")) *
          col("l_discount").cast(DecimalType(4, 2))) * 10000)
          .cast(LongType).as("disc4"),
        col("l_orderkey"))
      .groupBy("wk")
      .agg(sum("qty").as("q"), sum("disc4").as("x"),
        countDistinct("l_orderkey").as("z"))

  private val weeklyLinesSql: String =
    """weekly AS MATERIALIZED (SELECT wk, CAST(SUM(qty) AS BIGINT) AS q,
        CAST(SUM(disc4) AS BIGINT) AS x,
        CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS z
      FROM (SELECT
          CAST(floor(date_diff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT) AS wk,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)
            AS disc4,
          l_orderkey
        FROM lineitem) GROUP BY wk)"""

  // ------------------------------------------------- Theil-Sen
  // Median-of-pairwise-slopes trend of weekly quantity: every slope
  // is ONE division of exact integers (identical doubles), the
  // Sen slope a percentile_disc element pick over them, and the
  // intercept the median residual at that slope. The outlier-proof
  // trend line q405's OLS can't give; O(weeks²) pairs are bounded by
  // the calendar, not the data.
  private val q507 = QueryDef(
    "q507_theil_sen",
    (s, dir) => {
      val wkl = weeklyLines(s, dir).select("wk", "q").localCheckpoint()
      val slopes = wkl.as("a").join(wkl.as("b"),
          col("a.wk") < col("b.wk"))
        .select(((col("b.q") - col("a.q")).cast("double") /
          (col("b.wk") - col("a.wk")).cast("double")).as("slope"))
      val sen = slopes.agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
          .as("sen_slope"))
      wkl.crossJoin(broadcast(sen))
        .select(col("n_pairs"), col("sen_slope"),
          (col("q").cast("double") -
            col("sen_slope") * col("wk").cast("double")).as("resid"))
        .groupBy("n_pairs", "sen_slope")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY resid)")
          .as("intercept"))
        .select(col("n_pairs"), col("sen_slope"), col("intercept"))
    },
    Some(s"""WITH $weeklyLinesSql,
      slopes AS (SELECT
          CAST(b.q - a.q AS DOUBLE) / CAST(b.wk - a.wk AS DOUBLE)
            AS slope
        FROM weekly a JOIN weekly b ON a.wk < b.wk),
      sen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
            AS sen_slope
        FROM slopes)
      SELECT s.n_pairs, s.sen_slope,
        percentile_disc(0.5) WITHIN GROUP (ORDER BY
          CAST(w.q AS DOUBLE) - s.sen_slope * CAST(w.wk AS DOUBLE))
          AS intercept
      FROM weekly w CROSS JOIN sen s
      GROUP BY s.n_pairs, s.sen_slope"""),
    covers = Seq("STAT-theil-sen"))

  // ------------------------------------------------- partial corr
  // Does discounting correlate with quantity BEYOND what order
  // volume explains? Partial correlation r_xy·z from the three
  // pairwise Pearsons (exact HUGEINT bilinears) — the
  // volume-confounding check on q486's raw correlation.
  private val q508 = QueryDef(
    "q508_partial_correlation",
    (s, dir) => {
      val m = weeklyLines(s, dir).agg(count(lit(1)).as("n"),
        sum("q").as("sq"), sum("x").as("sx"), sum("z").as("sz"),
        sum(dec38(col("q")) * dec38(col("q"))).as("sqq"),
        sum(dec38(col("x")) * dec38(col("x"))).as("sxx"),
        sum(dec38(col("z")) * dec38(col("z"))).as("szz"),
        sum(dec38(col("x")) * dec38(col("q"))).as("sxq"),
        sum(dec38(col("x")) * dec38(col("z"))).as("sxz"),
        sum(dec38(col("q")) * dec38(col("z"))).as("sqz"))
      def r(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column =
        (dec38(col("n")) * sab - dec38(sa) * dec38(sb)).cast("double") /
          (sqrt((dec38(col("n")) * saa - dec38(sa) * dec38(sa))
            .cast("double")) *
           sqrt((dec38(col("n")) * sbb - dec38(sb) * dec38(sb))
            .cast("double")))
      m.select(col("n"),
          r(col("sxq"), col("sx"), col("sq"), col("sxx"), col("sqq"))
            .as("r_xy"),
          r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
            .as("r_xz"),
          r(col("sqz"), col("sq"), col("sz"), col("sqq"), col("szz"))
            .as("r_yz"))
        .withColumn("partial_r",
          (col("r_xy") - col("r_xz") * col("r_yz")) /
            (sqrt(lit(1.0) - col("r_xz") * col("r_xz")) *
             sqrt(lit(1.0) - col("r_yz") * col("r_yz"))))
    },
    Some(s"""WITH $weeklyLinesSql,
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(x) AS BIGINT) AS sx,
          CAST(SUM(z) AS BIGINT) AS sz,
          SUM(CAST(q AS HUGEINT) * q) AS sqq,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          SUM(CAST(z AS HUGEINT) * z) AS szz,
          SUM(CAST(x AS HUGEINT) * q) AS sxq,
          SUM(CAST(x AS HUGEINT) * z) AS sxz,
          SUM(CAST(q AS HUGEINT) * z) AS sqz
        FROM weekly),
      rs AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * sxq - CAST(sx AS HUGEINT) * sq
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
              CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * sqq -
              CAST(sq AS HUGEINT) * sq AS DOUBLE))) AS r_xy,
          CAST(CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
              CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * szz -
              CAST(sz AS HUGEINT) * sz AS DOUBLE))) AS r_xz,
          CAST(CAST(n AS HUGEINT) * sqz - CAST(sq AS HUGEINT) * sz
            AS DOUBLE) /
            (sqrt(CAST(CAST(n AS HUGEINT) * sqq -
              CAST(sq AS HUGEINT) * sq AS DOUBLE)) *
             sqrt(CAST(CAST(n AS HUGEINT) * szz -
              CAST(sz AS HUGEINT) * sz AS DOUBLE))) AS r_yz
        FROM m)
      SELECT n, r_xy, r_xz, r_yz,
        (r_xy - r_xz * r_yz) /
          (sqrt(1.0 - r_xz * r_xz) * sqrt(1.0 - r_yz * r_yz))
          AS partial_r
      FROM rs"""),
    covers = Seq("STAT-partial-correlation"))

  // ------------------------------------------------- Granger-lite
  // Does last week's DISCOUNT predict this week's quantity beyond
  // last week's quantity? Incremental R² of the two-regressor model
  // over the AR(1) baseline — both R²s closed forms over exact
  // centered moments (identical trees), no iterative fit. The
  // lead-lag causality screen behind promotion planning.
  private val q509 = QueryDef(
    "q509_granger_lite",
    (s, dir) => {
      val w = Window.orderBy("wk")
      val rows = weeklyLines(s, dir)
        .withColumn("wk_prev", lag(col("wk"), 1).over(w))
        .withColumn("ylag", lag(col("q"), 1).over(w))
        .withColumn("xlag", lag(col("x"), 1).over(w))
        .filter(col("wk_prev") === col("wk") - 1)
        .select(col("q").as("y"), col("ylag").as("x1"),
          col("xlag").as("x2"))
      val m = rows.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(dec38(col("y")) * dec38(col("y"))).as("syy"),
        sum(dec38(col("x1")) * dec38(col("x1"))).as("s11"),
        sum(dec38(col("x2")) * dec38(col("x2"))).as("s22"),
        sum(dec38(col("x1")) * dec38(col("y"))).as("s1y"),
        sum(dec38(col("x2")) * dec38(col("y"))).as("s2y"),
        sum(dec38(col("x1")) * dec38(col("x2"))).as("s12"))
      m.select(col("n"),
          (dec38(col("n")) * col("syy") - dec38(col("sy")) * dec38(col("sy")))
            .cast("double").as("a"),
          (dec38(col("n")) * col("s1y") - dec38(col("s1")) * dec38(col("sy")))
            .cast("double").as("b1"),
          (dec38(col("n")) * col("s2y") - dec38(col("s2")) * dec38(col("sy")))
            .cast("double").as("b2"),
          (dec38(col("n")) * col("s11") - dec38(col("s1")) * dec38(col("s1")))
            .cast("double").as("c11"),
          (dec38(col("n")) * col("s22") - dec38(col("s2")) * dec38(col("s2")))
            .cast("double").as("c22"),
          (dec38(col("n")) * col("s12") - dec38(col("s1")) * dec38(col("s2")))
            .cast("double").as("c12"))
        .withColumn("r2_ar", (col("b1") * col("b1") / col("c11")) / col("a"))
        .withColumn("r2_full",
          ((col("b1") * col("b1") * col("c22") +
            col("b2") * col("b2") * col("c11") -
            lit(2.0) * col("b1") * col("b2") * col("c12")) /
            (col("c11") * col("c22") - col("c12") * col("c12"))) / col("a"))
        .select(col("n"), col("r2_ar"), col("r2_full"),
          (col("r2_full") - col("r2_ar")).as("incremental_r2"))
    },
    Some(s"""WITH $weeklyLinesSql,
      rows_ AS (SELECT q AS y, ylag AS x1, xlag AS x2 FROM (
          SELECT wk, q, x,
            lag(wk, 1) OVER (ORDER BY wk) AS wk_prev,
            lag(q, 1) OVER (ORDER BY wk) AS ylag,
            lag(x, 1) OVER (ORDER BY wk) AS xlag
          FROM weekly) WHERE wk_prev = wk - 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
          CAST(SUM(x2) AS BIGINT) AS s2,
          SUM(CAST(y AS HUGEINT) * y) AS syy,
          SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
          SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
          SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
          SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
          SUM(CAST(x1 AS HUGEINT) * x2) AS s12
        FROM rows_),
      c AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
            AS DOUBLE) AS a,
          CAST(CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * sy
            AS DOUBLE) AS b1,
          CAST(CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * sy
            AS DOUBLE) AS b2,
          CAST(CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * s1
            AS DOUBLE) AS c11,
          CAST(CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * s2
            AS DOUBLE) AS c22,
          CAST(CAST(n AS HUGEINT) * s12 - CAST(s1 AS HUGEINT) * s2
            AS DOUBLE) AS c12
        FROM m)
      SELECT n, (b1 * b1 / c11) / a AS r2_ar,
        ((b1 * b1 * c22 + b2 * b2 * c11 - 2.0 * b1 * b2 * c12) /
          (c11 * c22 - c12 * c12)) / a AS r2_full,
        ((b1 * b1 * c22 + b2 * b2 * c11 - 2.0 * b1 * b2 * c12) /
          (c11 * c22 - c12 * c12)) / a - (b1 * b1 / c11) / a
          AS incremental_r2
      FROM c"""),
    covers = Seq("STAT-granger-lite"))

  // ------------------------------------------------- IPF raking
  // One iteration of iterative proportional fitting: rake the
  // segment×priority order counts to UNIFORM marginals (N/5 per row
  // and column). Row factors are exact-ratio doubles; the column
  // refit divides by column totals folded in segment order — the
  // survey-weighting core, with the post-rake row drift reported as
  // the convergence diagnostic.
  private val q510 = QueryDef(
    "q510_ipf_raking",
    (s, dir) => {
      val cells = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), Seq("o_custkey"))
        .groupBy(col("seg"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("nij"))
        .localCheckpoint()
      val tot = cells.agg(sum("nij").as("nn"))
      val rowTot = cells.groupBy("seg").agg(sum("nij").as("rt"))
      val w1 = cells.join(broadcast(rowTot), Seq("seg"))
        .crossJoin(broadcast(tot))
        .withColumn("target", col("nn").cast("double") / lit(5.0))
        .withColumn("w1",
          col("nij").cast("double") *
            (col("target") / col("rt").cast("double")))
      val colTot = w1.groupBy("pri")
        .agg(sort_array(collect_list(struct(col("seg"), col("w1"))))
          .as("wl"))
        .withColumn("ct",
          aggregate(col("wl"), lit(0.0), (a, e) => a + e.getField("w1")))
        .select("pri", "ct")
      w1.join(broadcast(colTot), Seq("pri"))
        .withColumn("w2", col("w1") * (col("target") / col("ct")))
        .select(col("seg"), col("pri"), col("nij"),
          (col("w2") / col("nij").cast("double")).as("rake_factor"),
          col("w2"))
        .orderBy("seg", "pri")
    },
    Some("""WITH cells AS MATERIALIZED (SELECT c.c_mktsegment AS seg,
          o.o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS nij
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM cells),
      row_tot AS (SELECT seg, CAST(SUM(nij) AS BIGINT) AS rt
        FROM cells GROUP BY 1),
      w1 AS MATERIALIZED (SELECT c.seg, c.pri, c.nij,
          CAST(t.nn AS DOUBLE) / 5.0 AS target,
          CAST(c.nij AS DOUBLE) *
            ((CAST(t.nn AS DOUBLE) / 5.0) / CAST(r.rt AS DOUBLE)) AS w1
        FROM cells c JOIN row_tot r ON r.seg = c.seg CROSS JOIN tot t),
      col_tot AS (SELECT pri,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(w1 ORDER BY seg)), (a, b) -> a + b) AS ct
        FROM w1 GROUP BY pri)
      SELECT w.seg, w.pri, w.nij,
        (w.w1 * (w.target / ct.ct)) / CAST(w.nij AS DOUBLE)
          AS rake_factor,
        w.w1 * (w.target / ct.ct) AS w2
      FROM w1 w JOIN col_tot ct ON ct.pri = w.pri
      ORDER BY w.seg, w.pri"""),
    covers = Seq("STAT-ipf-raking"))

  // ------------------------------------------------- Chow test
  // Structural break in the weekly-quantity trend at 1998: pooled vs
  // split linear fits, each SSE the closed form (A − B²/C)/n over
  // exact centered moments, F = ((SSEp − SSE1 − SSE2)/2)/
  // ((SSE1+SSE2)/(n−4)) — the regime-change test with zero
  // iterative fitting.
  private val q511 = QueryDef(
    "q511_chow_test",
    (s, dir) => {
      val cut = 157L // floor(days(1995-01-01..1998-01-01)/7)
      val wkl = weeklyLines(s, dir).select(col("wk"), col("q"))
        .withColumn("seg2", (col("wk") >= cut).cast("int"))
        .localCheckpoint()
      def mom(df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n"), sum("wk").as("sx"),
          sum("q").as("sy"),
          sum(dec38(col("wk")) * dec38(col("wk"))).as("sxx"),
          sum(dec38(col("q")) * dec38(col("q"))).as("syy"),
          sum(dec38(col("wk")) * dec38(col("q"))).as("sxy"))
      def sse(p: String): Column =
        ((col(s"${p}a") - col(s"${p}b") * col(s"${p}b") / col(s"${p}c")) /
          col(s"${p}n").cast("double"))
      def named(df: DataFrame, p: String): DataFrame =
        df.select(col("n").as(s"${p}n"),
          (dec38(col("n")) * col("syy") - dec38(col("sy")) * dec38(col("sy")))
            .cast("double").as(s"${p}a"),
          (dec38(col("n")) * col("sxy") - dec38(col("sx")) * dec38(col("sy")))
            .cast("double").as(s"${p}b"),
          (dec38(col("n")) * col("sxx") - dec38(col("sx")) * dec38(col("sx")))
            .cast("double").as(s"${p}c"))
      val p = named(mom(wkl), "p")
      val g1 = named(mom(wkl.filter(col("seg2") === 0)), "g1")
      val g2 = named(mom(wkl.filter(col("seg2") === 1)), "g2")
      p.crossJoin(g1).crossJoin(g2)
        .select(col("g1n").as("n_pre"), col("g2n").as("n_post"),
          sse("p").as("sse_pooled"),
          (sse("g1") + sse("g2")).as("sse_split"))
        .withColumn("f_stat",
          ((col("sse_pooled") - col("sse_split")) / lit(2.0)) /
            (col("sse_split") /
              (col("n_pre") + col("n_post") - lit(4L)).cast("double")))
    },
    Some(s"""WITH $weeklyLinesSql,
      wkl AS (SELECT wk, q, (wk >= 157) AS post FROM weekly),
      mp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl),
      m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl WHERE NOT post),
      m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(wk) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
          SUM(CAST(wk AS HUGEINT) * wk) AS sxx,
          SUM(CAST(q AS HUGEINT) * q) AS syy,
          SUM(CAST(wk AS HUGEINT) * q) AS sxy
        FROM wkl WHERE post),
      f AS (SELECT
          m1.n AS n_pre, m2.n AS n_post,
          (CAST(CAST(mp.n AS HUGEINT) * mp.syy -
              CAST(mp.sy AS HUGEINT) * mp.sy AS DOUBLE) -
            CAST(CAST(mp.n AS HUGEINT) * mp.sxy -
              CAST(mp.sx AS HUGEINT) * mp.sy AS DOUBLE) *
            CAST(CAST(mp.n AS HUGEINT) * mp.sxy -
              CAST(mp.sx AS HUGEINT) * mp.sy AS DOUBLE) /
            CAST(CAST(mp.n AS HUGEINT) * mp.sxx -
              CAST(mp.sx AS HUGEINT) * mp.sx AS DOUBLE)) /
            CAST(mp.n AS DOUBLE) AS sse_pooled,
          (CAST(CAST(m1.n AS HUGEINT) * m1.syy -
              CAST(m1.sy AS HUGEINT) * m1.sy AS DOUBLE) -
            CAST(CAST(m1.n AS HUGEINT) * m1.sxy -
              CAST(m1.sx AS HUGEINT) * m1.sy AS DOUBLE) *
            CAST(CAST(m1.n AS HUGEINT) * m1.sxy -
              CAST(m1.sx AS HUGEINT) * m1.sy AS DOUBLE) /
            CAST(CAST(m1.n AS HUGEINT) * m1.sxx -
              CAST(m1.sx AS HUGEINT) * m1.sx AS DOUBLE)) /
            CAST(m1.n AS DOUBLE) +
          (CAST(CAST(m2.n AS HUGEINT) * m2.syy -
              CAST(m2.sy AS HUGEINT) * m2.sy AS DOUBLE) -
            CAST(CAST(m2.n AS HUGEINT) * m2.sxy -
              CAST(m2.sx AS HUGEINT) * m2.sy AS DOUBLE) *
            CAST(CAST(m2.n AS HUGEINT) * m2.sxy -
              CAST(m2.sx AS HUGEINT) * m2.sy AS DOUBLE) /
            CAST(CAST(m2.n AS HUGEINT) * m2.sxx -
              CAST(m2.sx AS HUGEINT) * m2.sx AS DOUBLE)) /
            CAST(m2.n AS DOUBLE) AS sse_split
        FROM mp, m1, m2)
      SELECT n_pre, n_post, sse_pooled, sse_split,
        ((sse_pooled - sse_split) / 2.0) /
          (sse_split / CAST(n_pre + n_post - 4 AS DOUBLE)) AS f_stat
      FROM f"""),
    covers = Seq("STAT-chow-test"))

  // ------------------------------------------------- mean reversion
  // Regression to the mean in part demand: 1997's top-decile parts
  // (exact rank cutoffs) tracked into 1998 — their mean new
  // percentile and top-decile survival share, with the bottom
  // decile's upward drift as the mirror. The winner's-curse audit
  // behind every "double down on last year's bestsellers" plan.
  private val q514 = QueryDef(
    "q514_mean_reversion",
    (s, dir) => {
      def yearRank(yr: Int): DataFrame = {
        val d = t(s, dir, "lineitem")
          .filter(year(to_date(col("l_shipdate"))) === yr)
          .groupBy(col("l_partkey"))
          .agg(sum(dec(col("l_quantity"))
            .cast(LongType)).as("d"))
        val w = Window.orderBy(col("d").desc, col("l_partkey"))
        d.withColumn("rnk", row_number().over(w).cast(LongType))
      }
      val r97 = yearRank(1997).localCheckpoint()
      val r98 = yearRank(1998).localCheckpoint()
      val n97 = r97.agg(max("rnk").as("n1"))
      val n98 = r98.agg(max("rnk").as("n2"))
      val joined = r97.select(col("l_partkey"), col("rnk").as("rnk1"))
        .join(r98.select(col("l_partkey"), col("rnk").as("rnk2")),
          Seq("l_partkey"))
        .crossJoin(broadcast(n97)).crossJoin(broadcast(n98))
      val bands = joined
        .withColumn("band",
          when(lit(10L) * col("rnk1") <= col("n1"), "1_top_decile")
            .when(lit(10L) * col("rnk1") > lit(9L) * col("n1"),
              "3_bottom_decile")
            .otherwise("2_middle"))
      bands.groupBy("band")
        .agg(count(lit(1)).as("n_parts"), sum("rnk2").as("sr2"),
          max("n2").as("n2"),
          sum(when(lit(10L) * col("rnk2") <= col("n2"), 1L)
            .otherwise(0L)).as("still_top"))
        .select(col("band"), col("n_parts"),
          (col("sr2").cast("double") /
            (col("n_parts") * col("n2")).cast("double"))
            .as("mean_next_pct"),
          (col("still_top").cast("double") / col("n_parts").cast("double"))
            .as("top_decile_rate"))
        .orderBy("band")
    },
    Some("""WITH d97 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS d
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997
        GROUP BY 1),
      r97 AS (SELECT l_partkey, CAST(row_number() OVER (
          ORDER BY d DESC, l_partkey) AS BIGINT) AS rnk1 FROM d97),
      d98 AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
            AS BIGINT) AS d
        FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1998
        GROUP BY 1),
      r98 AS (SELECT l_partkey, CAST(row_number() OVER (
          ORDER BY d DESC, l_partkey) AS BIGINT) AS rnk2 FROM d98),
      n1 AS (SELECT CAST(MAX(rnk1) AS BIGINT) AS n1 FROM r97),
      n2 AS (SELECT CAST(MAX(rnk2) AS BIGINT) AS n2 FROM r98),
      j AS (SELECT a.l_partkey, a.rnk1, b.rnk2, n1.n1, n2.n2
        FROM r97 a JOIN r98 b ON b.l_partkey = a.l_partkey
        CROSS JOIN n1 CROSS JOIN n2),
      bands AS (SELECT *,
          CASE WHEN 10 * rnk1 <= n1 THEN '1_top_decile'
            WHEN 10 * rnk1 > 9 * n1 THEN '3_bottom_decile'
            ELSE '2_middle' END AS band
        FROM j)
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(rnk2) AS DOUBLE) /
          CAST(COUNT(*) * MAX(n2) AS DOUBLE) AS mean_next_pct,
        CAST(COUNT(*) FILTER (WHERE 10 * rnk2 <= n2) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS top_decile_rate
      FROM bands GROUP BY band ORDER BY band"""),
    covers = Seq("STAT-mean-reversion"))

  // ------------------------------------------------- reliability
  // Split-half reliability of part demand: odd-week vs even-week
  // quantities per part, Pearson r from exact HUGEINT bilinears,
  // stepped up by Spearman-Brown 2r/(1+r) — is one year of demand
  // data enough signal to rank SKUs, or mostly noise?
  private val q515 = QueryDef(
    "q515_split_half_reliability",
    (s, dir) => {
      def d38(c: Column): Column = c.cast(DecimalType(38, 0))
      val halves = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (floor(datediff(to_date(col("l_shipdate")),
            lit("1995-01-01").cast(DateType)) / lit(7.0))
            .cast(LongType) % 2 === 0).as("even_wk"),
          dec(col("l_quantity")).cast(LongType)
            .as("qty"))
        .groupBy("l_partkey")
        .agg(sum(when(col("even_wk"), col("qty")).otherwise(0L)).as("x"),
          sum(when(!col("even_wk"), col("qty")).otherwise(0L)).as("y"))
      val m = halves.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"))
      m.select(col("n"),
          ((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
            .cast("double") /
            (sqrt((d38(col("n")) * col("sxx") -
              d38(col("sx")) * d38(col("sx"))).cast("double")) *
             sqrt((d38(col("n")) * col("syy") -
              d38(col("sy")) * d38(col("sy"))).cast("double"))))
            .as("r_half"))
        .withColumn("spearman_brown",
          lit(2.0) * col("r_half") / (lit(1.0) + col("r_half")))
    },
    Some("""WITH halves AS (SELECT l_partkey,
          CAST(SUM(CASE WHEN CAST(floor(date_diff('day',
              DATE '1995-01-01', CAST(l_shipdate AS DATE)) / 7.0)
              AS BIGINT) % 2 = 0
            THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS x,
          CAST(SUM(CASE WHEN CAST(floor(date_diff('day',
              DATE '1995-01-01', CAST(l_shipdate AS DATE)) / 7.0)
              AS BIGINT) % 2 <> 0
            THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          SUM(CAST(x AS HUGEINT) * x) AS sxx,
          SUM(CAST(y AS HUGEINT) * y) AS syy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM halves),
      r AS (SELECT n,
          CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
            AS DOUBLE) /
          (sqrt(CAST(CAST(n AS HUGEINT) * sxx -
            CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
           sqrt(CAST(CAST(n AS HUGEINT) * syy -
            CAST(sy AS HUGEINT) * sy AS DOUBLE))) AS r_half
        FROM m)
      SELECT n, r_half, 2.0 * r_half / (1.0 + r_half)
        AS spearman_brown
      FROM r"""),
    covers = Seq("STAT-split-half"))

  // ------------------------------------------------- Pareto knee
  // The knee of the revenue concentration curve: rank parts by
  // revenue, find the rank maximizing distance to the (0,0)–(N,R)
  // chord — the argmax of the exact integer |i·R − C_i·N|, ties →
  // rank. Where "the head" objectively ends, without eyeballing a
  // plot.
  private val q516 = QueryDef(
    "q516_pareto_knee",
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(((dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) -
            col("l_discount").cast(DecimalType(4, 2)))) * 10000)
          .cast(LongType)).as("r"))
      val w = Window.orderBy(col("r").desc, col("l_partkey"))
      val ranked = rev
        .withColumn("i", row_number().over(w).cast(LongType))
        .withColumn("c", sum("r").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = ranked.agg(max("i").as("np"), max("c").as("rt"))
      val knee = ranked.crossJoin(broadcast(tot))
        .withColumn("dist_num",
          abs(col("i") * col("rt") - col("c") * col("np")))
      val wk = Window.orderBy(col("dist_num").desc, col("i"))
      knee.withColumn("rk", row_number().over(wk))
        .filter(col("rk") === 1)
        .select(col("i").as("knee_rank"), col("np").as("n_parts"),
          (col("i").cast("double") / col("np").cast("double"))
            .as("rank_share"),
          (col("c").cast("double") / col("rt").cast("double"))
            .as("revenue_share_at_knee"))
    },
    Some("""WITH rev AS (SELECT l_partkey,
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
            * 10000 AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1),
      ranked AS (SELECT l_partkey, r,
          CAST(row_number() OVER (ORDER BY r DESC, l_partkey)
            AS BIGINT) AS i,
          CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS c
        FROM rev),
      tot AS (SELECT CAST(MAX(i) AS BIGINT) AS np,
          CAST(MAX(c) AS BIGINT) AS rt FROM ranked),
      knee AS (SELECT i, c, np, rt,
          ABS(i * rt - c * np) AS dist_num,
          row_number() OVER (ORDER BY ABS(i * rt - c * np) DESC, i)
            AS rk
        FROM ranked CROSS JOIN tot)
      SELECT i AS knee_rank, np AS n_parts,
        CAST(i AS DOUBLE) / CAST(np AS DOUBLE) AS rank_share,
        CAST(c AS DOUBLE) / CAST(rt AS DOUBLE)
          AS revenue_share_at_knee
      FROM knee WHERE rk = 1"""),
    covers = Seq("STAT-pareto-knee"))

  val all: Seq[QueryDef] = Seq(q54, q69, q83, q88, q142, q143, q160, q195,
    q206, q207, q208, q209, q210, q214, q218, q228, q229, q231, q246, q260,
    q263, q264, q266, q268, q272, q273, q274, q275, q283, q286, q297, q298,
    q302, q309, q312, q317, q334, q335, q338, q339, q346, q347, q352, q354,
    q364, q365, q367, q368, q372, q373, q374, q375, q377, q381, q387, q388,
    q391, q392, q394, q399, q400, q402, q404, q406, q408, q409, q410, q411,
    q412, q414, q415, q416, q424, q425, q426, q427, q430, q432, q433, q435,
    q437, q438, q439, q440, q445, q446, q449, q450, q453, q454, q455, q457,
    q458, q459, q460, q461, q464, q477, q478, q479, q480, q481, q497, q502,
    q503, q505, q506, q507, q508, q509, q510, q511, q514, q515, q516)
}
