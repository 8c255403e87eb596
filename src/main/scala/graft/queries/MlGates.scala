package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

import graft.Tables.{load => t}
import graft.dedup.Dedup

import QueryDef.{Q, cents, dec, dec38, spread}

/** Model and evaluation gates: classical ML inside the engine (k-means,
  * naive Bayes, decision stumps, OLS, Markov chains), feature
  * engineering, recommender and retrieval evaluation, record linkage
  * and media features.
  *
  * The recurring trick: floats only ever come from identical
  * expression trees or identically-ordered folds, and every decision
  * is an exact integer or cross-multiplied compare, so iterative ML
  * hash-matches a SQL oracle.
  */
object MlGates {

  // ------------------------------------------------------------ multimodal
  // The full binary-column pipeline under the hash gate: document text
  // bytes stand in for media payloads (the stub codec is deterministic
  // arithmetic over bytes, so the whole mapPartitions path — schema,
  // batching, feature row — is SQL-checkable in DuckDB down to the
  // sha256 and byte histogram).
  private val q48 = QueryDef(
    "q48_media_features",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val mod = col("doc_id") % 3
      val media = d.select(
        col("doc_id").as("media_id"),
        when(mod === 0, "image").when(mod === 1, "audio").otherwise("video")
          .as("media_type"),
        lit(null).cast("string").as("uri"),
        col("text").cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.extractFeatures(media)
        .select(
          col("media_id"), col("media_type"), col("byte_len"), col("sha256"),
          col("width"), col("height"), col("duration_ms"),
          element_at(col("histogram"), 3).as("h2"),
          element_at(col("histogram"), 7).as("h6"),
          col("mean_byte"))
        .orderBy("media_id")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          text, octet_length(encode(text)) AS n FROM documents)
      SELECT media_id, media_type,
        CAST(n AS BIGINT) AS byte_len,
        sha256(text) AS sha256,
        CAST(CASE media_type WHEN 'image' THEN 1 + (n % 1024) WHEN 'video' THEN 640 ELSE 0 END AS INTEGER) AS width,
        CAST(CASE media_type WHEN 'image' THEN 1 + ((n // 1024) % 1024) WHEN 'video' THEN 360 ELSE 0 END AS INTEGER) AS height,
        CAST(CASE media_type WHEN 'audio' THEN n // 16 WHEN 'video' THEN n // 128 ELSE 0 END AS BIGINT) AS duration_ms,
        CAST(len(list_filter(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))), b -> b // 16 = 2)) AS BIGINT) AS h2,
        CAST(len(list_filter(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))), b -> b // 16 = 6)) AS BIGINT) AS h6,
        CAST(list_sum(list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1)))) AS DOUBLE) / n AS mean_byte
      FROM media ORDER BY media_id"""),
    covers = Seq("MM-features"))

  // ------------------------------------------------------------ multimodal frame sampling
  // The frame-sample fan-out path (q48's sibling): payloads big enough
  // to span several 1 KiB stub frames (text × 10), stride 2, one row
  // per kept frame with its own digest — hash-gated end to end.
  private val q65 = QueryDef(
    "q65_media_frames",
    (s, dir) => {
      val d = spread(s, t(s, dir, "documents"))
      val media = d.select(
        col("doc_id").as("media_id"),
        lit("video").as("media_type"),
        lit(null).cast("string").as("uri"),
        repeat(col("text"), 10).cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.sampleFrameFeatures(media, stride = 2)
        .toDF()
        .orderBy("media_id", "frame_idx")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id, repeat(text, 10) AS payload,
          octet_length(encode(repeat(text, 10))) AS n
        FROM documents),
      frames AS (
        SELECT media_id, payload,
          unnest(range(0, (((n + 1023) // 1024) + 1) // 2)) AS k
        FROM media)
      SELECT media_id, CAST(k AS INTEGER) AS frame_idx,
        CAST(length(substr(payload, CAST(1 + 2048*k AS BIGINT), 1024)) AS INTEGER) AS frame_len,
        sha256(substr(payload, CAST(1 + 2048*k AS BIGINT), 1024)) AS frame_sha256
      FROM frames ORDER BY media_id, frame_idx"""),
    covers = Seq("MM-frames"))

  // ------------------------------------------------------- media resize
  // Distributed resize through the deterministic codec stub (q48's
  // derivation of binary media from document bytes): payloads resized
  // to a 64×32 target, metadata re-decoded from the RESIZED bytes, and
  // the resized object's sha256 — all SQL-checkable because the stub
  // is byte arithmetic (prefix take) over ASCII text.
  private val q121 = QueryDef(
    "q121_media_resize",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val mod = col("doc_id") % 3
      val media = d.select(
        col("doc_id").as("media_id"),
        when(mod === 0, "image").when(mod === 1, "audio").otherwise("video")
          .as("media_type"),
        lit(null).cast("string").as("uri"),
        col("text").cast("binary").as("content"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("int").as("meta_sample_rate"))
      graft.multimodal.MediaFeatures.resizeAll(media, 64, 32)
        .toDF().orderBy("media_id")
    },
    Some("""WITH media AS (
        SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          text, octet_length(encode(text)) AS n FROM documents),
      r AS (SELECT *, greatest(16, least(n, 64*32 // 64)) AS k FROM media)
      SELECT media_id, media_type,
        CAST(n AS BIGINT) AS orig_len,
        CAST(k AS BIGINT) AS new_len,
        CAST(CASE media_type WHEN 'image' THEN 1 + (k % 1024) WHEN 'video' THEN 640 ELSE 0 END AS INTEGER) AS new_width,
        CAST(CASE media_type WHEN 'image' THEN 1 + ((k // 1024) % 1024) WHEN 'video' THEN 360 ELSE 0 END AS INTEGER) AS new_height,
        sha256(substr(text, 1, k)) AS resized_sha256
      FROM r ORDER BY media_id"""),
    covers = Seq("MM-resize"))

  // ------------------------------------------- z-score standardization
  // Per-group feature standardization (the ML-prep transform): mean
  // and population variance derive from exact DECIMAL power sums
  // (Σq is 2-decimal, Σq² 4-decimal — both exact), so the moments
  // are independent of partial-aggregation order; the float work is
  // one shared tree of correctly-rounded IEEE ops (÷, ·, sqrt),
  // bit-identical in any engine. Two passes over the fact (moments,
  // then the standardizing join) — the broadcast of per-group
  // moments is O(groups), never data-sized.
  private val q184 = QueryDef(
    "q184_zscore",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          dec(col("l_quantity")).as("q"))
      val m = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("s"),
          sum((col("q") * col("q")).cast(DecimalType(38, 4))).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("mean"),
          sqrt(
            ((col("n") * col("s2") - (col("s") * col("s")).cast(DecimalType(38, 4)))
              .cast("double")) /
              (col("n") * col("n")).cast("double")).as("std"))
      li.filter(col("l_orderkey") % 500 === 0)
        .join(broadcast(m), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("q").cast("double").as("quantity"),
          ((col("q").cast("double") - col("mean")) / col("std")).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH li AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CAST(l_quantity AS DECIMAL(18,2)) AS q
        FROM lineitem),
      m AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(q) AS s, SUM(CAST(q * q AS DECIMAL(38,4))) AS s2
        FROM li GROUP BY 1),
      mm AS (
        SELECT l_returnflag,
          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          sqrt(CAST(n * s2 - CAST(s * s AS DECIMAL(38,4)) AS DOUBLE)
               / CAST(n * n AS DOUBLE)) AS std
        FROM m)
      SELECT l_orderkey, l_linenumber, li.l_returnflag,
        CAST(q AS DOUBLE) AS quantity,
        (CAST(q AS DOUBLE) - mean) / std AS z
      FROM li JOIN mm ON li.l_returnflag = mm.l_returnflag
      WHERE l_orderkey % 500 = 0
      ORDER BY l_orderkey, l_linenumber"""),
    covers = Seq("ML-standardize"))

  // ------------------------------------------- rank-uniform normalization
  // Quantile (rank-uniform) normalization of a feature — the ML
  // preprocessing step that maps any distribution onto Uniform(0,1)
  // regardless of its shape, where z-scores (q184) assume
  // Gaussian-ish tails. Per label, each vector's L2 norm (the q55
  // sequential-fold tree, bit-identical across engines) gets its
  // within-label rank; u = (2·rank − 1) / (2·n) is the midpoint
  // plotting position — exact integers until ONE division. vec_id
  // tiebreaks make ranks total even under float-equal norms. One
  // partitioned window pass; at 100 TB the per-label sort shards by
  // label exactly like q159's equi-depth histogram.
  private val q245 = QueryDef(
    "q245_rank_uniform",
    (s, dir) => {
      val l2 = sqrt(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      val w = Window.partitionBy("label").orderBy(col("l2"), col("vec_id"))
      val n = Window.partitionBy("label")
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), l2.as("l2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(n))
        .select(col("vec_id"), col("label"), col("l2"), col("rank"),
          ((col("rank") * 2 - 1).cast("double") / (col("n") * 2).cast("double"))
            .as("u"))
        .orderBy("vec_id")
    },
    Some("""WITH n AS (
        SELECT vec_id, label,
          sqrt(list_sum(list_transform(list_zip(embedding, embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS l2
        FROM embeddings),
      r AS (
        SELECT vec_id, label, l2,
          CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY l2, vec_id)
            AS BIGINT) AS rank,
          COUNT(*) OVER (PARTITION BY label) AS n
        FROM n)
      SELECT vec_id, label, l2, rank,
        CAST(rank * 2 - 1 AS DOUBLE) / CAST(n * 2 AS DOUBLE) AS u
      FROM r ORDER BY vec_id"""),
    covers = Seq("ML-rank-uniform"))

  // ------------------------------------------------- target encoding
  // Smoothed mean-target encoding of a categorical feature: each
  // market segment encodes as (Σy + m·prior)/(n + m) with m = 10 and
  // the global mean as prior — the leakage-resistant categorical
  // encoder of gradient-boosting pipelines. The prior is itself a
  // ratio, so the encode is computed from the EXACT common-denominator
  // form (Σy·N + m·S)/(N·(n + m)): DECIMAL(38,2) products of exact
  // sums, ONE closing division. Per-category aggregation is one
  // map-side-combined shuffle; the global scalar broadcasts.
  private val q280 = QueryDef(
    "q280_target_encoding",
    (s, dir) => {
      val d38 = DecimalType(38, 2)
      val o = t(s, dir, "orders").join(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      val per = o.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).as("sy"))
      val glob = per.agg(sum(col("n")).as("nn"),
        sum(col("sy")).cast(d38).as("ss"))
      per.crossJoin(broadcast(glob))
        .select(col("segment"), col("n"),
          (col("sy").cast("double") / col("n").cast("double")).as("raw_mean"),
          ((col("sy").cast(d38) * col("nn") + lit(10L) * col("ss"))
            .cast("double") /
            (col("nn") * (col("n") + lit(10L))).cast("double"))
            .as("encoded"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c_mktsegment AS segment,
          CAST(o_totalprice AS DECIMAL(18,2)) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      per AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(y) AS sy FROM o GROUP BY 1),
      g AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(sy) AS DECIMAL(38,2)) AS ss FROM per)
      SELECT segment, n,
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean,
        CAST(CAST(sy AS DECIMAL(38,2)) * nn + 10 * ss AS DOUBLE)
          / CAST(nn * (n + 10) AS DOUBLE) AS encoded
      FROM per CROSS JOIN g ORDER BY segment"""),
    covers = Seq("ML-target-encoding"))

  // ------------------------------------------------- decile lift
  // Gains/lift table — THE model-evaluation artifact for ranked
  // targeting: sort customers by a score (account balance as the
  // stand-in model output), cut into score deciles, and measure how
  // fast the positives (customers with a finalized order) accumulate
  // vs random. Deciles come from NTILE(10) over a TOTAL order
  // (score DESC, custkey); capture and lift close as single divisions
  // of exact long products ((cum_pos·N)/(cum_n·P) — never a ratio of
  // ratios). The label join aggregates orders per customer first, so
  // the fact scan is one map-side-combined pass.
  private val q284 = QueryDef(
    "q284_decile_lift",
    (s, dir) => {
      val labels = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("label"))
      val scored = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .join(labels, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("label"), lit(0L)).as("label"))
      val dec = scored.withColumn("decile",
        ntile(10).over(Window.orderBy(desc("c_acctbal"), asc("c_custkey")))
          .cast("long"))
      val per = dec.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      per
        .withColumn("cum_n", sum(col("n")).over(wCum))
        .withColumn("cum_pos", sum(col("pos")).over(wCum))
        .withColumn("tot_n", sum(col("n")).over(tot))
        .withColumn("tot_pos", sum(col("pos")).over(tot))
        .select(col("decile"), col("n"), col("pos"),
          (col("cum_pos").cast("double") / col("tot_pos").cast("double"))
            .as("capture"),
          ((col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double")).as("lift"))
        .orderBy("decile")
    },
    Some("""WITH labels AS (SELECT o_custkey,
          CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS label
        FROM orders GROUP BY 1),
      scored AS (SELECT c_custkey, c_acctbal,
          COALESCE(label, 0) AS label
        FROM customer LEFT JOIN labels ON c_custkey = o_custkey),
      dec AS (SELECT *,
          CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
            AS BIGINT) AS decile
        FROM scored),
      per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(label) AS BIGINT) AS pos
        FROM dec GROUP BY 1),
      cum AS (SELECT *,
          CAST(SUM(n) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_n,
          CAST(SUM(pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_pos,
          CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
          CAST(SUM(pos) OVER () AS BIGINT) AS tot_pos
        FROM per)
      SELECT decile, n, pos,
        CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS capture,
        CAST(cum_pos * tot_n AS DOUBLE) / CAST(cum_n * tot_pos AS DOUBLE)
          AS lift
      FROM cum ORDER BY decile"""),
    covers = Seq("ML-lift"))

  // ------------------------------------------------- temporal split
  // Time-based train/val/test split of the event log (days ≤20 /
  // 21–25 / ≥26) with the audit an eval pipeline needs next to it:
  // how many of each split's USERS also appear in train — the entity
  // leakage that silently inflates offline metrics when models
  // memorize users across the boundary. (q142 splits by hash —
  // entity-disjoint by construction; a TEMPORAL split must measure
  // its leakage instead.) One pass tags splits, distinct (split,
  // user) pairs aggregate per split, and the train-user set
  // left-semi-joins back — counts exact, the share is one division.
  private val q290 = QueryDef(
    "q290_temporal_split",
    (s, dir) => {
      val tagged = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          dayofmonth(to_date(col("ts"))).as("dom"))
        .withColumn("split",
          when(col("dom") <= 20, "train")
            .when(col("dom") <= 25, "val")
            .otherwise("test"))
      val perSplit = tagged.groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
      val splitUsers = tagged.select("split", "user_id").distinct()
      val trainUsers = splitUsers.filter(col("split") === "train")
        .select(col("user_id"))
      val overlap = splitUsers
        .join(trainUsers, Seq("user_id"), "left_semi")
        .groupBy("split").agg(count(lit(1)).as("train_overlap_users"))
      perSplit.join(overlap, Seq("split"), "left")
        .withColumn("train_overlap_users",
          coalesce(col("train_overlap_users"), lit(0L)))
        .select(col("split"), col("n_events"), col("n_users"),
          col("train_overlap_users"),
          (col("train_overlap_users").cast("double") /
            col("n_users").cast("double")).as("overlap_share"))
        .orderBy("split")
    },
    Some("""WITH tagged AS (SELECT user_id, event_id,
          CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 20 THEN 'train'
               WHEN dayofmonth(CAST(ts AS DATE)) <= 25 THEN 'val'
               ELSE 'test' END AS split
        FROM events),
      per_split AS (SELECT split,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged GROUP BY 1),
      split_users AS (SELECT DISTINCT split, user_id FROM tagged),
      overlap AS (SELECT s.split,
          CAST(COUNT(*) AS BIGINT) AS train_overlap_users
        FROM split_users s
        WHERE EXISTS (SELECT 1 FROM split_users tr
                      WHERE tr.split = 'train' AND tr.user_id = s.user_id)
        GROUP BY 1)
      SELECT p.split, p.n_events, p.n_users,
        COALESCE(o.train_overlap_users, 0) AS train_overlap_users,
        CAST(COALESCE(o.train_overlap_users, 0) AS DOUBLE)
          / CAST(p.n_users AS DOUBLE) AS overlap_share
      FROM per_split p LEFT JOIN overlap o ON p.split = o.split
      ORDER BY p.split"""),
    covers = Seq("ML-temporal-split"))

  // ------------------------------------------------- decision stump
  // Best single split of part size predicting an urgent order — the
  // one-level decision tree, scored by weighted Gini impurity. Split
  // candidates collapse to |distinct sizes| cumulative-count rows
  // (never per-row work after the first aggregate); each split's
  // impurity is the two-term sum 2kL(nL−kL)/nL + 2kR(nR−kR)/nR over
  // exact counts, identical trees both engines. Top-5 by (impurity,
  // size).
  private val q448 = QueryDef(
    "q448_decision_stump",
    (s, dir) => {
      val rows = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          (col("o_orderpriority") === "1-URGENT").as("y")), Seq("l_orderkey"))
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          col("p_size")), Seq("l_partkey"))
      val bySize = rows.groupBy("p_size")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("y"), 1L).otherwise(0L)).as("k_s"))
      val w = Window.orderBy("p_size")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bySize.agg(sum("n_s").as("n"), sum("k_s").as("k"))
      val splits = bySize
        .withColumn("nl", sum("n_s").over(w))
        .withColumn("kl", sum("k_s").over(w))
        .crossJoin(broadcast(tot))
        .withColumn("nr", col("n") - col("nl"))
        .withColumn("kr", col("k") - col("kl"))
        .filter(col("nr") > 0)
        .withColumn("wgini",
          ((lit(2L) * col("kl") * (col("nl") - col("kl"))).cast("double") /
            col("nl").cast("double") +
          (lit(2L) * col("kr") * (col("nr") - col("kr"))).cast("double") /
            col("nr").cast("double")) / col("n").cast("double"))
        .withColumn("gain",
          (lit(2L) * col("k") * (col("n") - col("k"))).cast("double") /
            (col("n") * col("n")).cast("double") - col("wgini"))
      val wr = Window.orderBy(col("wgini"), col("p_size"))
      splits.withColumn("rnk", row_number().over(wr).cast(LongType))
        .filter(col("rnk") <= 5)
        .select(col("rnk"), col("p_size").cast(LongType).as("split_size"),
          col("nl"), col("kl"), col("nr"), col("kr"),
          col("wgini"), col("gain"))
        .orderBy("rnk")
    },
    Some("""WITH rows_ AS (SELECT p.p_size,
          (o.o_orderpriority = '1-URGENT') AS y
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey),
      by_size AS (SELECT p_size, CAST(COUNT(*) AS BIGINT) AS n_s,
          CAST(COUNT(*) FILTER (WHERE y) AS BIGINT) AS k_s
        FROM rows_ GROUP BY p_size),
      tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
          CAST(SUM(k_s) AS BIGINT) AS k FROM by_size),
      splits AS (SELECT b.p_size,
          CAST(SUM(n_s) OVER (ORDER BY p_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS nl,
          CAST(SUM(k_s) OVER (ORDER BY p_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS kl,
          t.n, t.k
        FROM by_size b CROSS JOIN tot t),
      scored AS (SELECT p_size, nl, kl, n - nl AS nr, k - kl AS kr, n, k,
          (CAST(2 * kl * (nl - kl) AS DOUBLE) / CAST(nl AS DOUBLE) +
           CAST(2 * (k - kl) * ((n - nl) - (k - kl)) AS DOUBLE) /
             CAST(n - nl AS DOUBLE)) / CAST(n AS DOUBLE) AS wgini
        FROM splits WHERE n - nl > 0),
      ranked AS (SELECT p_size, nl, kl, nr, kr, wgini,
          CAST(2 * k * (n - k) AS DOUBLE) / CAST(n * n AS DOUBLE)
            - wgini AS gain,
          CAST(row_number() OVER (ORDER BY wgini, p_size) AS BIGINT)
            AS rnk
        FROM scored)
      SELECT rnk, CAST(p_size AS BIGINT) AS split_size,
        nl, kl, nr, kr, wgini, gain
      FROM ranked WHERE rnk <= 5 ORDER BY rnk"""),
    covers = Seq("ML-decision-stump"))

  /** Train-period top-3 co-purchase recommendations per part (by
    * co-occurrence count, ties → partner key) — the shared model of
    * q463/q466/q513, built once per (context, dir) through the
    * GraphGateSource cache (three gates × three bench executions
    * otherwise rebuild the train self-join nine times per JVM; the
    * gates' DuckDB oracles re-derive it independently from lineitem).
    * Train = orders shipped before 1999.
    */
  private[queries] def recs(s: SparkSession, dir: String): DataFrame =
    GraphGateSource.cached(s, "train-recs:" + dir)(buildRecs(s, dir))

  /** The uncached builder — PlanGuardSpec pins its TopKPerKey shape
    * here, since the cached frame's visible plan is a checkpoint scan.
    */
  private[queries] def buildRecs(s: SparkSession, dir: String): DataFrame = {
    val trainOrders = t(s, dir, "orders")
      .filter(to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
      .select(col("o_orderkey"))
    val op = t(s, dir, "lineitem")
      .join(trainOrders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val co = op.as("a").join(op.as("b"), Seq("o"))
      .filter(col("a.p") =!= col("b.p"))
      .groupBy(col("a.p").as("part"), col("b.p").as("rec"))
      .agg(count(lit(1)).as("w"))
    // top-3 through bounded heaps (map-side capped to 3 per part per
    // partition) instead of a full window sort of every co-pair; the
    // (w desc, rec) ordering is total per part, so ranks ≡ row_number
    graft.plans.TopKPerKey.perKey(co, Seq("part"),
        Seq(col("w").desc, col("rec")), 3)
      .select("part", "rec", "rk")
  }

  private[queries] val recsSql: String =
    """train_o AS (SELECT o_orderkey FROM orders
        WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'),
      op AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o,
          l.l_partkey AS p
        FROM lineitem l JOIN train_o t ON t.o_orderkey = l.l_orderkey),
      co AS (SELECT a.p AS part, b.p AS rec,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM op a JOIN op b ON b.o = a.o AND a.p <> b.p
        GROUP BY 1, 2),
      recs AS MATERIALIZED (SELECT part, rec, rk FROM (SELECT part, rec,
          row_number() OVER (PARTITION BY part
            ORDER BY w DESC, rec) AS rk
        FROM co) WHERE rk <= 3)"""

  // ------------------------------------------------- rec hit rate
  // Offline evaluation of the "customers also bought" model: for
  // every part occurrence in a TEST order (1999+), a hit when any
  // OTHER part of that order is in the part's top-3 train-period
  // rec list. Hit-rate and the co-visitation base rate are exact
  // count ratios — the leakage-free eval loop of an item-item
  // recommender, end to end in one plan.
  private val q463 = QueryDef(
    "q463_item_item_hitrate",
    (s, dir) => {
      val testOrders = t(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) >=
          lit("1999-01-01").cast(DateType))
        .select(col("o_orderkey"))
      // session-cached like recs: the test-period order-part frame
      // feeds the opportunity count, the hit join, and all three
      // bench executions
      val top = GraphGateSource.cached(s, "test-op:" + dir)(
        t(s, dir, "lineitem")
          .join(testOrders, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct())
      val multi = top.groupBy("o").agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2).select("o")
      val opp = top.join(multi, Seq("o"))
      val hits = opp.as("x")
        .join(recs(s, dir), col("x.p") === col("part"))
        .join(top.as("y"),
          col("x.o") === col("y.o") && col("rec") === col("y.p"))
        .select(col("x.o").as("o"), col("x.p").as("p"))
        .distinct()
      opp.agg(count(lit(1)).as("n_opportunities"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_opportunities"), col("n_hits"),
          (col("n_hits").cast("double") /
            col("n_opportunities").cast("double")).as("hit_rate"))
    },
    Some(s"""WITH $recsSql,
      test_o AS (SELECT o_orderkey FROM orders
        WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'),
      topt AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS o,
          l.l_partkey AS p
        FROM lineitem l JOIN test_o t ON t.o_orderkey = l.l_orderkey),
      multi AS (SELECT o FROM topt GROUP BY o HAVING COUNT(*) >= 2),
      opp AS MATERIALIZED (SELECT x.o, x.p FROM topt x
        JOIN multi m ON m.o = x.o),
      hits AS (SELECT DISTINCT x.o, x.p
        FROM opp x JOIN recs r ON r.part = x.p
        JOIN topt y ON y.o = x.o AND y.p = r.rec)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM opp)
          AS n_opportunities,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
        CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM opp) AS DOUBLE) AS hit_rate"""),
    covers = Seq("ML-rec-hitrate"))

  // ------------------------------------------------- rec coverage
  // Health of the rec model itself: catalog coverage (share of parts
  // ever recommended), share of parts with a full 3-slot list, and
  // brand diversity (lists whose 3 recs span ≥2 brands). A high
  // hit-rate with low coverage is a popularity trap — this is the
  // audit that catches it.
  private val q466 = QueryDef(
    "q466_rec_coverage",
    (s, dir) => {
      // recs is already session-checkpointed (GraphGateSource.cached)
      val r = recs(s, dir)
      val brands = t(s, dir, "part")
        .select(col("p_partkey").as("rec"), col("p_brand"))
      val nParts = t(s, dir, "part").agg(count(lit(1)).as("n_parts"))
      val perList = r.join(broadcast(brands), Seq("rec"))
        .groupBy("part")
        .agg(count(lit(1)).as("n_recs"),
          countDistinct("p_brand").as("n_brands"))
      val distinctRec = r.select("rec").distinct()
        .agg(count(lit(1)).as("n_recommended"))
      perList.agg(count(lit(1)).as("n_lists"),
          sum(when(col("n_recs") === 3, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("n_brands") >= 2, 1L).otherwise(0L))
            .as("n_diverse"))
        .crossJoin(distinctRec).crossJoin(nParts)
        .select(col("n_lists"), col("n_full"), col("n_diverse"),
          col("n_recommended"), col("n_parts"),
          (col("n_recommended").cast("double") /
            col("n_parts").cast("double")).as("coverage"),
          (col("n_diverse").cast("double") / col("n_lists").cast("double"))
            .as("diversity"))
    },
    Some(s"""WITH $recsSql,
      brands AS (SELECT p_partkey AS rec, p_brand FROM part),
      per_list AS (SELECT r.part, CAST(COUNT(*) AS BIGINT) AS n_recs,
          CAST(COUNT(DISTINCT b.p_brand) AS BIGINT) AS n_brands
        FROM recs r JOIN brands b ON b.rec = r.rec
        GROUP BY r.part)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
        CAST(COUNT(*) FILTER (WHERE n_recs = 3) AS BIGINT) AS n_full,
        CAST(COUNT(*) FILTER (WHERE n_brands >= 2) AS BIGINT)
          AS n_diverse,
        (SELECT CAST(COUNT(DISTINCT rec) AS BIGINT) FROM recs)
          AS n_recommended,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS n_parts,
        CAST((SELECT COUNT(DISTINCT rec) FROM recs) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM part) AS DOUBLE) AS coverage,
        CAST(COUNT(*) FILTER (WHERE n_brands >= 2) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS diversity
      FROM per_list"""),
    covers = Seq("ML-rec-coverage"))

  // ------------------------------------------------- cold start
  // Catalog cold-start exposure: test-period (1999+) orders touching
  // parts never sold in the train period — order share and revenue
  // share at exact scale-4 cents. The census that decides whether a
  // co-purchase model (q463) can serve the live traffic at all.
  private val q465 = QueryDef(
    "q465_cold_start_census",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (to_date(col("o_orderdate")) < lit("1999-01-01").cast(DateType))
            .as("is_train"))
      val li = t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("is_train"),
          ((dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(4, 2)) -
              col("l_discount").cast(DecimalType(4, 2)))) * 10000)
            .cast(LongType).as("rev4"))
      val seen = li.filter(col("is_train"))
        .select(col("l_partkey")).distinct()
      val test = li.filter(!col("is_train"))
        .join(seen.withColumn("seen", lit(true)), Seq("l_partkey"), "left")
        .withColumn("cold", col("seen").isNull)
      val perOrder = test.groupBy("l_orderkey")
        .agg(max(when(col("cold"), 1L).otherwise(0L)).as("has_cold"))
      perOrder.agg(count(lit(1)).as("n_test_orders"),
          sum("has_cold").as("n_cold_orders"))
        .crossJoin(test.agg(sum("rev4").as("rev_total"),
          sum(when(col("cold"), col("rev4")).otherwise(0L))
            .as("rev_cold")))
        .select(col("n_test_orders"), col("n_cold_orders"),
          (col("n_cold_orders").cast("double") /
            col("n_test_orders").cast("double")).as("cold_order_share"),
          col("rev_cold"), col("rev_total"),
          (col("rev_cold").cast("double") / col("rev_total").cast("double"))
            .as("cold_rev_share"))
    },
    Some("""WITH o AS (SELECT o_orderkey,
          (CAST(o_orderdate AS DATE) < DATE '1999-01-01') AS is_train
        FROM orders),
      li AS (SELECT l.l_orderkey, l.l_partkey, o.is_train,
          CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(4,2)) -
              CAST(l.l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
            AS rev4
        FROM lineitem l JOIN o ON o.o_orderkey = l.l_orderkey),
      seen AS (SELECT DISTINCT l_partkey FROM li WHERE is_train),
      test AS (SELECT li.l_orderkey, li.rev4,
          (s.l_partkey IS NULL) AS cold
        FROM li LEFT JOIN seen s ON s.l_partkey = li.l_partkey
        WHERE NOT li.is_train),
      per_order AS (SELECT l_orderkey,
          CAST(MAX(CASE WHEN cold THEN 1 ELSE 0 END) AS BIGINT)
            AS has_cold
        FROM test GROUP BY 1)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_order)
          AS n_test_orders,
        (SELECT CAST(SUM(has_cold) AS BIGINT) FROM per_order)
          AS n_cold_orders,
        CAST((SELECT SUM(has_cold) FROM per_order) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM per_order) AS DOUBLE)
          AS cold_order_share,
        CAST(SUM(CASE WHEN cold THEN rev4 ELSE 0 END) AS BIGINT)
          AS rev_cold,
        CAST(SUM(rev4) AS BIGINT) AS rev_total,
        CAST(SUM(CASE WHEN cold THEN rev4 ELSE 0 END) AS DOUBLE) /
          CAST(SUM(rev4) AS DOUBLE) AS cold_rev_share
      FROM test"""),
    covers = Seq("ML-cold-start"))

  private[queries] def vdOf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        floor(col("x").cast("double") * lit(Q.toDouble))
          .cast(LongType).as("q"))

  private[queries] val vdSql: String =
    """vd AS MATERIALIZED (SELECT vec_id, dd.i - 1 AS d,
        CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
          AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd)"""

  // ------------------------------------------------- k-means Lloyd
  // Two Lloyd iterations from deterministic seeds (vectors 0–3):
  // round 1 assigns on exact integer lattice distances; the updated
  // centroids stay RATIONAL (S_md, n_m), so round-2 distances are
  // the exact numerators Σ(n·q−S)² over n² — compared as identical
  // doubles. Per-cluster inertia keeps a common denominator, so it
  // is one division despite summing member distances. Assignment is
  // map-side against broadcast centroids; the update is one groupBy
  // — the textbook distributed k-means shape.
  private val q467 = QueryDef(
    "q467_kmeans_lloyd",
    (s, dir) => {
      val vd = vdOf(s, dir).localCheckpoint()
      val c0 = vd.filter(col("vec_id") < 4)
        .select(col("vec_id").as("m"), col("d"), col("q").as("c"))
      val d1 = vd.join(broadcast(c0), Seq("d"))
        .groupBy("vec_id", "m")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
      val w1 = Window.partitionBy("vec_id").orderBy(col("d2"), col("m"))
      val a1 = d1.withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1).select("vec_id", "m")
      val cent1 = vd.join(a1, Seq("vec_id"))
        .groupBy("m", "d")
        .agg(sum("q").as("sm"), count(lit(1)).as("nm"))
        .localCheckpoint()
      val d2 = vd.join(broadcast(cent1), Seq("d"))
        .withColumn("term",
          dec38(col("nm") * col("q") - col("sm")) *
            dec38(col("nm") * col("q") - col("sm")))
        .groupBy("vec_id", "m", "nm")
        .agg(sum("term").as("num"))
        .withColumn("dist2",
          col("num").cast("double") /
            (col("nm") * col("nm")).cast("double"))
      val w2 = Window.partitionBy("vec_id").orderBy(col("dist2"), col("m"))
      val a2 = d2.withColumn("rn", row_number().over(w2))
        .filter(col("rn") === 1)
      val shift = cent1.join(broadcast(c0), Seq("m", "d"))
        .withColumn("sterm",
          dec38(col("sm") - col("nm") * col("c")) *
            dec38(col("sm") - col("nm") * col("c")))
        .groupBy("m")
        .agg(sum("sterm").as("snum"), max("nm").as("nm0"))
        .select(col("m"),
          (sqrt(col("snum").cast("double")) /
            (col("nm0").cast("double") * lit(Q.toDouble))).as("shift"))
      a2.groupBy("m", "nm")
        .agg(count(lit(1)).as("n_members"), sum("num").as("inum"))
        .join(shift, Seq("m"))
        .select(col("m").cast(LongType).as("cluster"), col("n_members"),
          (col("inum").cast("double") /
            ((col("nm") * col("nm")).cast("double") *
              lit((Q * Q).toDouble))).as("inertia"),
          col("shift"))
        .orderBy("cluster")
    },
    Some(s"""WITH $vdSql,
      c0 AS MATERIALIZED (SELECT vec_id AS m, d, q AS c FROM vd
        WHERE vec_id < 4),
      d1 AS MATERIALIZED (SELECT v.vec_id, c.m,
          CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d2
        FROM vd v JOIN c0 c ON c.d = v.d GROUP BY 1, 2),
      a1 AS MATERIALIZED (SELECT vec_id, m FROM (SELECT vec_id, m,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, m) AS rn
        FROM d1) WHERE rn = 1),
      cent1 AS MATERIALIZED (SELECT a.m, v.d,
          CAST(SUM(v.q) AS BIGINT) AS sm,
          CAST(COUNT(*) AS BIGINT) AS nm
        FROM vd v JOIN a1 a ON a.vec_id = v.vec_id GROUP BY 1, 2),
      d2x AS MATERIALIZED (SELECT v.vec_id, c.m, c.nm,
          SUM(CAST(c.nm * v.q - c.sm AS HUGEINT) *
              CAST(c.nm * v.q - c.sm AS HUGEINT)) AS num
        FROM vd v JOIN cent1 c ON c.d = v.d GROUP BY 1, 2, 3),
      d2d AS (SELECT vec_id, m, nm, num,
          CAST(num AS DOUBLE) / CAST(nm * nm AS DOUBLE) AS dist2
        FROM d2x),
      a2 AS MATERIALIZED (SELECT vec_id, m, nm, num FROM (SELECT
          vec_id, m, nm, num,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist2, m)
            AS rn
        FROM d2d) WHERE rn = 1),
      shift AS (SELECT c.m,
          sqrt(CAST(SUM(CAST(c.sm - c.nm * z.c AS HUGEINT) *
            CAST(c.sm - c.nm * z.c AS HUGEINT)) AS DOUBLE)) /
          (CAST(MAX(c.nm) AS DOUBLE) * 1048576.0) AS shift
        FROM cent1 c JOIN c0 z ON z.m = c.m AND z.d = c.d
        GROUP BY c.m)
      SELECT CAST(a.m AS BIGINT) AS cluster,
        CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(SUM(a.num) AS DOUBLE) /
          (CAST(a.nm * a.nm AS DOUBLE) *
            (1048576.0 * 1048576.0)) AS inertia,
        MAX(s.shift) AS shift
      FROM a2 a JOIN shift s ON s.m = a.m
      GROUP BY a.m, a.nm ORDER BY cluster"""),
    covers = Seq("ML-kmeans-lloyd"))

  // ------------------------------------------------- naive Bayes
  // Multinomial naive Bayes language ID with Laplace smoothing,
  // trained on even doc_ids and evaluated on odd ones, reported as
  // the confusion matrix. The per-class likelihood is a PRODUCT of
  // per-token doubles — folded in token-position order on both
  // engines (aggregate HOF with prior init ≡ list_reduce over a
  // prior-prepended ordered list), so scores are bit-identical and
  // the argmax agrees. Unseen tokens smooth to 1/(tot+V).
  private val q468 = QueryDef(
    "q468_naive_bayes_lang",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // materialized once: three independent broadcast builds (counts,
      // tots, vocab) each re-ran the train-half explode — broadcast
      // sides are separate jobs, so exchange reuse never applies
      val tokTrain = docs.filter(col("doc_id") % 2 === 0)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint()
      val counts = tokTrain.groupBy(col("lang").as("l"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val tots = tokTrain.groupBy(col("lang").as("l"))
        .agg(count(lit(1)).as("tot"))
      val vocab = tokTrain.select("tok").distinct()
        .agg(count(lit(1)).as("v"))
      val priors = docs.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
      val nTrain = docs.filter(col("doc_id") % 2 === 0)
        .agg(count(lit(1)).as("ndocs"))
      val test = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val scored = test
        .crossJoin(broadcast(tots))
        .join(broadcast(counts), Seq("l", "tok"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("p",
          (coalesce(col("c"), lit(0L)).cast("double") + lit(1.0)) /
            (col("tot") + col("v")).cast("double"))
        .groupBy("doc_id", "true_lang", "l")
        .agg(sort_array(collect_list(struct(col("pos"), col("p"))))
          .as("ps"))
        .join(broadcast(priors), Seq("l"))
        .crossJoin(broadcast(nTrain))
        .withColumn("score",
          aggregate(col("ps"),
            col("nd").cast("double") / col("ndocs").cast("double"),
            (acc, e) => acc * e.getField("p")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("l"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("true_lang"), col("l").as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")
    },
    Some("""WITH tok_train AS (SELECT lang,
          unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 0),
      counts AS MATERIALIZED (SELECT lang AS l, tok,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM tok_train GROUP BY 1, 2),
      tots AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS tot
        FROM tok_train GROUP BY 1),
      vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        FROM tok_train),
      priors AS (SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS nd
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      n_train AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndocs
        FROM documents WHERE doc_id % 2 = 0),
      test AS (SELECT doc_id, lang AS true_lang,
          generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
          unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 2 = 1),
      scored AS MATERIALIZED (SELECT t.doc_id, t.true_lang, tt.l,
          list_reduce(
            list_prepend(CAST(p.nd AS DOUBLE) / CAST(nt.ndocs AS DOUBLE),
              list((CAST(COALESCE(c.c, 0) AS DOUBLE) + 1.0) /
                CAST(tt.tot + vb.v AS DOUBLE) ORDER BY t.pos)),
            (a, b) -> a * b) AS score
        FROM test t
        CROSS JOIN tots tt
        LEFT JOIN counts c ON c.l = tt.l AND c.tok = t.tok
        CROSS JOIN vocab vb
        JOIN priors p ON p.l = tt.l
        CROSS JOIN n_train nt
        GROUP BY t.doc_id, t.true_lang, tt.l, p.nd, nt.ndocs,
          tt.tot, vb.v)
      SELECT true_lang, l AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, true_lang, l,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, l) AS rn
        FROM scored)
      WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
    covers = Seq("ML-naive-bayes"))

  // ------------------------------------------------- stationary dist
  // Stationary distribution of the event-type Markov chain: exact
  // transition probabilities (int/int divisions on the dense
  // states×states grid), then 8 steps of vP with the matvec folded
  // in from-state order on both engines. Reported against the
  // empirical state share — the "where does the process settle vs
  // where is it now" gap.
  private val q469 = QueryDef(
    "q469_markov_stationary",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("fr"), col("nxt").as("to"))
        .agg(count(lit(1)).as("c"))
      // bounded-collect: distinct event types — a small fixed enum
      val states = ev.select(col("event_type").as("st")).distinct()
        .orderBy("st").collect().map(_.getString(0))
      val idx = states.zipWithIndex.toMap
      val rowTot = trans.groupBy("fr").agg(sum("c").as("rt"))
      val pCells = trans.join(rowTot, Seq("fr"))
        .select(col("fr"), col("to"),
          (col("c").cast("double") / col("rt").cast("double")).as("p"))
        // bounded-collect: states x states transition cells — O(enum²)
        .collect()
      val k = states.length
      val pm = Array.ofDim[Double](k, k)
      pCells.foreach(r =>
        pm(idx(r.getString(0)))(idx(r.getString(1))) = r.getDouble(2))
      var v = Array.fill(k)(1.0 / k)
      for (_ <- 1 to 8)
        v = Array.tabulate(k)(j =>
          (0 until k).map(i => v(i) * pm(i)(j)).reduceLeft(_ + _))
      val emp = ev.groupBy(col("event_type").as("st"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(ev.agg(count(lit(1)).as("nt")))
        .select(col("st"),
          (col("n").cast("double") / col("nt").cast("double"))
            .as("empirical_share"))
      import s.implicits._
      val statDf = states.zip(v).toSeq.toDF("st", "stationary_prob")
      statDf.join(emp, Seq("st"))
        .select(col("st").as("event_type"), col("stationary_prob"),
          col("empirical_share"))
        .orderBy("event_type")
    },
    Some {
      val iters = (1 to 8).map { kk =>
        s"""v$kk AS MATERIALIZED (SELECT p.to_s AS st,
          list_reduce(list(v.v * p.p ORDER BY p.fr_s),
            (a, b) -> a + b) AS v
        FROM pmat p JOIN v${kk - 1} v ON v.st = p.fr_s
        GROUP BY p.to_s)"""
      }.mkString(",\n      ")
      s"""WITH ev AS (SELECT user_id, event_type, ts, event_id
        FROM events),
      trans AS (SELECT event_type AS fr,
          lead(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS t_o
        FROM ev),
      tc AS (SELECT fr, t_o, CAST(COUNT(*) AS BIGINT) AS c
        FROM trans WHERE t_o IS NOT NULL GROUP BY 1, 2),
      states AS (SELECT DISTINCT event_type AS st FROM ev),
      rt AS (SELECT fr, CAST(SUM(c) AS BIGINT) AS rt FROM tc
        GROUP BY fr),
      pmat AS MATERIALIZED (SELECT a.st AS fr_s, b.st AS to_s,
          COALESCE(CAST(tc.c AS DOUBLE) / CAST(rt.rt AS DOUBLE), 0.0)
            AS p
        FROM states a CROSS JOIN states b
        LEFT JOIN tc ON tc.fr = a.st AND tc.t_o = b.st
        LEFT JOIN rt ON rt.fr = a.st),
      nstates AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
      v0 AS (SELECT st, 1.0 / (SELECT CAST(k AS DOUBLE) FROM nstates)
          AS v FROM states),
      $iters,
      emp AS (SELECT event_type AS st, CAST(COUNT(*) AS BIGINT) AS n
        FROM ev GROUP BY 1),
      nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM ev)
      SELECT v8.st AS event_type, v8.v AS stationary_prob,
        CAST(e.n AS DOUBLE) / CAST((SELECT nt FROM nt) AS DOUBLE)
          AS empirical_share
      FROM v8 JOIN emp e ON e.st = v8.st
      ORDER BY event_type"""
    },
    covers = Seq("ML-markov-stationary"))

  // ------------------------------------------------- 2-feature OLS
  // Multiple regression by Cramer's rule: order value on (years
  // since 1995, urgent flag) per segment. All nine normal-equation
  // moments are exact integers; each 3×3 determinant is one
  // HUGEINT/DECIMAL(38,0) polynomial, and each coefficient is ONE
  // double division of two determinants — multivariate OLS with no
  // float accumulation anywhere.
  private val q471 = QueryDef(
    "q471_ols_two_features",
    (s, dir) => {
      val seg = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment"))
      val o = t(s, dir, "orders").join(seg, Seq("o_custkey"))
        .select(col("segment"),
          (year(to_date(col("o_orderdate"))) - 1995).cast(LongType).as("x1"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("x2"),
          (dec(col("o_totalprice")) * 100)
            .cast(LongType).as("y"))
      val m = o.groupBy("segment").agg(
        count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum("y").as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
      def det(a: Column, b: Column, c: Column,
              d: Column, e: Column, f: Column,
              g: Column, h: Column, i: Column): Column =
        dec38(a) * (dec38(e) * dec38(i) - dec38(f) * dec38(h)) -
          dec38(b) * (dec38(d) * dec38(i) - dec38(f) * dec38(g)) +
          dec38(c) * (dec38(d) * dec38(h) - dec38(e) * dec38(g))
      m.select(col("segment"), col("n"),
          det(col("n"), col("s1"), col("s2"),
            col("s1"), col("s11"), col("s12"),
            col("s2"), col("s12"), col("s22")).as("dd"),
          det(col("sy"), col("s1"), col("s2"),
            col("s1y"), col("s11"), col("s12"),
            col("s2y"), col("s12"), col("s22")).as("d0"),
          det(col("n"), col("sy"), col("s2"),
            col("s1"), col("s1y"), col("s12"),
            col("s2"), col("s2y"), col("s22")).as("d1"),
          det(col("n"), col("s1"), col("sy"),
            col("s1"), col("s11"), col("s1y"),
            col("s2"), col("s12"), col("s2y")).as("d2"))
        .select(col("segment"), col("n"),
          (col("d0").cast("double") / col("dd").cast("double"))
            .as("beta0_cents"),
          (col("d1").cast("double") / col("dd").cast("double"))
            .as("beta1_cents_per_year"),
          (col("d2").cast("double") / col("dd").cast("double"))
            .as("beta2_urgent_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT c.c_mktsegment AS segment,
          CAST(year(CAST(o.o_orderdate AS DATE)) - 1995 AS BIGINT) AS x1,
          CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1
            ELSE 0 END AS x2,
          CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      m AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
          CAST(SUM(x1 * x1) AS BIGINT) AS s11,
          CAST(SUM(x1 * x2) AS BIGINT) AS s12,
          CAST(SUM(x2 * x2) AS BIGINT) AS s22,
          CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x1 * y) AS BIGINT) AS s1y,
          CAST(SUM(x2 * y) AS BIGINT) AS s2y
        FROM o GROUP BY segment),
      d AS (SELECT segment, n,
          CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS dd,
          CAST(sy AS HUGEINT) * (CAST(s11 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            + CAST(s2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2y) AS d0,
          CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2y)
            - CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s22
              - CAST(s12 AS HUGEINT) * s2)
            + CAST(s2 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2) AS d1,
          CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s12)
            - CAST(s1 AS HUGEINT) * (CAST(s1 AS HUGEINT) * s2y
              - CAST(s1y AS HUGEINT) * s2)
            + CAST(sy AS HUGEINT) * (CAST(s1 AS HUGEINT) * s12
              - CAST(s11 AS HUGEINT) * s2) AS d2
        FROM m)
      SELECT segment, n,
        CAST(d0 AS DOUBLE) / CAST(dd AS DOUBLE) AS beta0_cents,
        CAST(d1 AS DOUBLE) / CAST(dd AS DOUBLE)
          AS beta1_cents_per_year,
        CAST(d2 AS DOUBLE) / CAST(dd AS DOUBLE) AS beta2_urgent_cents
      FROM d ORDER BY segment"""),
    covers = Seq("ML-ols-two-features"))

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
          graft.functions.QuantizedL2(col("a.embedding"), col("b.embedding")).as("d2"))
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

  private def labeledVdOf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("label"), col("d"),
        floor(col("x").cast("double") * lit(Q.toDouble))
          .cast(LongType).as("q"))

  private val labeledVdSql: String =
    """vd AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS label,
        dd.i - 1 AS d,
        CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
          AS BIGINT) AS q
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd)"""

  /** Cosine ranking of all candidates per query (vec_id < 100):
    * (qa, vb, label_q, label_b, cos, rnk).
    */
  /** Quantized-integer kNN scoring over the embedding table (queries
    * = vec_id < 100, exact integer dots, cos from exact integers) —
    * the shared input of q487/q488/q512, session-cached since every
    * value is integer-derived and bit-deterministic.
    */
  private[queries] def ranked(s: SparkSession, dir: String): DataFrame =
    GraphGateSource.cached(s, "knn-ranked:" + dir)(rankedBuild(s, dir))

  private def rankedBuild(s: SparkSession, dir: String): DataFrame = {
    val vd = labeledVdOf(s, dir).localCheckpoint()
    val norms = vd.groupBy("vec_id")
      .agg(sum(col("q") * col("q")).as("n2"))
    val qv = vd.filter(col("vec_id") < 100)
    val dots = qv.as("a").join(vd.as("b"), Seq("d"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .groupBy(col("a.vec_id").as("qa"), col("a.label").as("lq"),
        col("b.vec_id").as("vb"), col("b.label").as("lb"))
      .agg(sum(col("a.q") * col("b.q")).as("dot"))
    val scored = dots
      .join(norms.select(col("vec_id").as("qa"), col("n2").as("na")),
        Seq("qa"))
      .join(norms.select(col("vec_id").as("vb"), col("n2").as("nb")),
        Seq("vb"))
      .withColumn("cos",
        col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy("qa").orderBy(col("cos").desc, col("vb"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
  }

  private val rankedSql: String =
    s"""$labeledVdSql,
      norms AS MATERIALIZED (SELECT vec_id,
          CAST(SUM(q * q) AS BIGINT) AS n2
        FROM vd GROUP BY 1),
      dots AS MATERIALIZED (SELECT a.vec_id AS qa, a.label AS lq,
          b.vec_id AS vb, b.label AS lb,
          CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        FROM vd a JOIN vd b ON b.d = a.d AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 100
        GROUP BY 1, 2, 3, 4),
      ranked AS MATERIALIZED (SELECT qa, lq, vb, lb, cos,
          CAST(row_number() OVER (PARTITION BY qa
            ORDER BY cos DESC, vb) AS BIGINT) AS rnk
        FROM (SELECT d.*,
            CAST(d.dot AS DOUBLE) /
              (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
              AS cos
          FROM dots d JOIN norms na ON na.vec_id = d.qa
          JOIN norms nb ON nb.vec_id = d.vb))"""

  // ------------------------------------------------- MRR / hit@k
  // Label-retrieval evaluation over the embedding space: for each of
  // the first 100 query vectors, rank every other vector by cosine
  // (exact-lattice dot products; cosine trees identical, so rankings
  // agree bitwise) and score the first same-label hit — MRR (Σ1/rank
  // folded in query order), hit@1/5/10 as exact counts. The offline
  // eval harness every ANN index (q45 IVF, q106 PQ) is judged
  // against.
  private val q487 = QueryDef(
    "q487_knn_mrr",
    (s, dir) => {
      val firstHit = ranked(s, dir)
        .filter(col("lq") === col("lb"))
        .groupBy("qa").agg(min("rnk").as("fr"))
        .withColumn("rr", lit(1.0) / col("fr").cast("double"))
      firstHit.agg(count(lit(1)).as("n_queries"),
          sum(when(col("fr") === 1L, 1L).otherwise(0L)).as("hit1"),
          sum(when(col("fr") <= 5L, 1L).otherwise(0L)).as("hit5"),
          sum(when(col("fr") <= 10L, 1L).otherwise(0L)).as("hit10"),
          sort_array(collect_list(struct(col("qa"), col("rr")))).as("rl"))
        .withColumn("srr",
          aggregate(col("rl"), lit(0.0), (a, e) => a + e.getField("rr")))
        .select(col("n_queries"), col("hit1"), col("hit5"), col("hit10"),
          (col("srr") / col("n_queries").cast("double")).as("mrr"))
    },
    Some(s"""WITH $rankedSql,
      fh AS (SELECT qa, MIN(rnk) AS fr FROM ranked
        WHERE lq = lb GROUP BY qa),
      rr AS (SELECT qa, fr, 1.0 / CAST(fr AS DOUBLE) AS rr FROM fh)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(COUNT(*) FILTER (WHERE fr = 1) AS BIGINT) AS hit1,
        CAST(COUNT(*) FILTER (WHERE fr <= 5) AS BIGINT) AS hit5,
        CAST(COUNT(*) FILTER (WHERE fr <= 10) AS BIGINT) AS hit10,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(rr ORDER BY qa)), (a, b) -> a + b) /
          CAST(COUNT(*) AS DOUBLE) AS mrr
      FROM rr"""),
    covers = Seq("IR-mrr"))

  // ------------------------------------------------- hard negatives
  // Hard-negative mining: per query, the margin between the best
  // same-label and best different-label cosine. The 10 most-negative
  // margins are the queries whose nearest neighbor is a WRONG-label
  // impostor — exactly the pairs a contrastive fine-tune needs.
  private val q488 = QueryDef(
    "q488_retrieval_margin",
    (s, dir) => {
      val r = ranked(s, dir)
      val best = r.groupBy("qa", "lq")
        .agg(max(when(col("lq") === col("lb"), col("cos"))).as("best_same"),
          max(when(col("lq") =!= col("lb"), col("cos"))).as("best_diff"))
        .withColumn("margin", col("best_same") - col("best_diff"))
      best.orderBy(col("margin"), col("qa")).limit(10)
        .select(col("qa").as("query_vec"), col("lq").as("label"),
          col("best_same"), col("best_diff"), col("margin"))
    },
    Some(s"""WITH $rankedSql,
      best AS (SELECT qa, lq,
          MAX(CASE WHEN lq = lb THEN cos END) AS best_same,
          MAX(CASE WHEN lq <> lb THEN cos END) AS best_diff
        FROM ranked GROUP BY qa, lq)
      SELECT qa AS query_vec, lq AS label, best_same, best_diff,
        best_same - best_diff AS margin
      FROM best ORDER BY margin, qa LIMIT 10"""),
    covers = Seq("IR-hard-negatives"))

  // ------------------------------------------------- BLEU-lite
  // Modified n-gram precision between verified near-dup pairs
  // (candidate = doc_a, reference = doc_b): P1/P2 are exact clipped-
  // count ratios, combined as sqrt(P1·P2) with a linear brevity
  // factor min(1, len_a/len_b) — geometric-mean BLEU-2 with the exp
  // brevity penalty replaced by a rational (exp is not gateable).
  // The MT metric repurposed as a dedup-quality score.
  private val q489 = QueryDef(
    "q489_bleu_pairs",
    (s, dir) => {
      // session-cached copy of q22's verified-pairs pipeline (the
      // oracle re-derives it independently from documents)
      val pairs = GraphGateSource.cached(s, "q22-pairs:" + dir)(
        DedupGates.q22.run(s, dir))
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      // only documents that appear in a verified pair are ever read
      // by the clipped-count joins or the brevity length — build the
      // gram tables for THAT set (pair-bounded), not the corpus: the
      // two corpus-sized explode→groupBy gram builds disappear and
      // every downstream join is candidate-sized
      val pairDocs = pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
      val docs = t(s, dir, "documents")
        .join(broadcast(pairDocs), Seq("doc_id"))
      val uni = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      val bi = toks.select(col("doc_id"),
          explode(expr("transform(sequence(0, size(tk) - 2), " +
            "i -> concat(tk[i], ' ', tk[i + 1]))")).as("g"))
        .filter(col("g").isNotNull)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      def clipped(grams: DataFrame): DataFrame =
        pairs
          .join(grams.select(col("doc_id").as("doc_a"), col("g"),
            col("c").as("ca")), Seq("doc_a"))
          .join(grams.select(col("doc_id").as("doc_b"), col("g"),
            col("c").as("cb")), Seq("doc_b", "g"), "left")
          .withColumn("cb", coalesce(col("cb"), lit(0L)))
          .groupBy("doc_a", "doc_b")
          .agg(sum(least(col("ca"), col("cb"))).as("clip"),
            sum("ca").as("tot"))
      val p1 = clipped(uni).select(col("doc_a"), col("doc_b"),
        col("clip").as("clip1"), col("tot").as("len_a"))
      val p2 = clipped(bi).select(col("doc_a"), col("doc_b"),
        col("clip").as("clip2"), col("tot").as("tot2"))
      val lenB = uni.groupBy(col("doc_id").as("doc_b"))
        .agg(sum("c").as("len_b"))
      p1.join(p2, Seq("doc_a", "doc_b")).join(lenB, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("clip1").cast("double") / col("len_a").cast("double"))
            .as("p1"),
          (col("clip2").cast("double") / col("tot2").cast("double"))
            .as("p2"),
          (sqrt((col("clip1").cast("double") / col("len_a").cast("double")) *
            (col("clip2").cast("double") / col("tot2").cast("double"))) *
            least(lit(1.0),
              col("len_a").cast("double") / col("len_b").cast("double")))
            .as("bleu2_lite"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
             FROM toksrc WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
        GROUP BY 1),
      p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(COUNT(*) AS BIGINT) AS common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM p0
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.4),
      uni AS MATERIALIZED (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT)
          AS c
        FROM (SELECT doc_id, unnest(tk) AS g FROM toksrc)
        GROUP BY 1, 2),
      bi AS MATERIALIZED (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT)
          AS c
        FROM (SELECT doc_id,
            unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i+1])) AS g
          FROM toksrc WHERE len(tk) >= 2)
        GROUP BY 1, 2),
      c1 AS (SELECT p.doc_a, p.doc_b,
          CAST(SUM(LEAST(ua.c, COALESCE(ub.c, 0))) AS BIGINT) AS clip1,
          CAST(SUM(ua.c) AS BIGINT) AS len_a
        FROM pairs p
        JOIN uni ua ON ua.doc_id = p.doc_a
        LEFT JOIN uni ub ON ub.doc_id = p.doc_b AND ub.g = ua.g
        GROUP BY 1, 2),
      c2 AS (SELECT p.doc_a, p.doc_b,
          CAST(SUM(LEAST(ba.c, COALESCE(bb.c, 0))) AS BIGINT) AS clip2,
          CAST(SUM(ba.c) AS BIGINT) AS tot2
        FROM pairs p
        JOIN bi ba ON ba.doc_id = p.doc_a
        LEFT JOIN bi bb ON bb.doc_id = p.doc_b AND bb.g = ba.g
        GROUP BY 1, 2),
      lb AS (SELECT doc_id AS doc_b, CAST(SUM(c) AS BIGINT) AS len_b
        FROM uni GROUP BY 1)
      SELECT c1.doc_a, c1.doc_b,
        CAST(c1.clip1 AS DOUBLE) / CAST(c1.len_a AS DOUBLE) AS p1,
        CAST(c2.clip2 AS DOUBLE) / CAST(c2.tot2 AS DOUBLE) AS p2,
        sqrt((CAST(c1.clip1 AS DOUBLE) / CAST(c1.len_a AS DOUBLE)) *
          (CAST(c2.clip2 AS DOUBLE) / CAST(c2.tot2 AS DOUBLE))) *
          LEAST(1.0, CAST(c1.len_a AS DOUBLE) / CAST(lb.len_b AS DOUBLE))
          AS bleu2_lite
      FROM c1 JOIN c2 ON c2.doc_a = c1.doc_a AND c2.doc_b = c1.doc_b
      JOIN lb ON lb.doc_b = c1.doc_b
      ORDER BY c1.doc_a, c1.doc_b"""),
    covers = Seq("IR-bleu-lite"))

  // ------------------------------------------------- PRF expansion
  // Pseudo-relevance-feedback query expansion: for each seed term,
  // take the 10 best documents by the q434 rational-idf BM25 score,
  // then rank the terms of that feedback pool by exact lift
  // (c_fb·T)/(t_fb·C) against the corpus — the top-5 co-occurring
  // terms are the expansion. End-to-end IR loop, every ranking an
  // identical double tree or exact rational.
  private val q491 = QueryDef(
    "q491_query_expansion_prf",
    (s, dir) => {
      val seeds = Seq("spark", "hash", "vector")
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .localCheckpoint()
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val corpus = dl.agg(sum("dl").as("total_tok"),
        count(lit(1)).as("n_docs"))
      import s.implicits._
      val seedDf = seeds.toDF("seed")
      val scored = seedDf
        .join(tf.withColumnRenamed("term", "seed"), Seq("seed"))
        .join(dl, Seq("doc_id"))
        .join(dft.withColumnRenamed("term", "seed"), Seq("seed"))
        .crossJoin(broadcast(corpus))
        .withColumn("score",
          (((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
          ((col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) * (lit(0.25) +
              lit(0.75) * (col("dl").cast("double") /
                (col("total_tok").cast("double") /
                  col("n_docs").cast("double")))))))
      val wTop = Window.partitionBy("seed")
        .orderBy(col("score").desc, col("doc_id"))
      val fb = scored.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select(col("seed"), col("doc_id"))
      val fbTok = fb.join(tok, Seq("doc_id"))
        .groupBy("seed", "term").agg(count(lit(1)).as("c_fb"))
      val fbTot = fbTok.groupBy("seed").agg(sum("c_fb").as("t_fb"))
      val glob = tok.groupBy("term").agg(count(lit(1)).as("c_all"))
      val tot = tok.agg(count(lit(1)).as("t_all"))
      val lift = fbTok
        .join(broadcast(fbTot), Seq("seed"))
        .join(glob, Seq("term"))
        .crossJoin(broadcast(tot))
        .filter(col("term") =!= col("seed"))
        .withColumn("lift",
          (col("c_fb") * col("t_all")).cast("double") /
            (col("t_fb") * col("c_all")).cast("double"))
      val wExp = Window.partitionBy("seed")
        .orderBy(col("lift").desc, col("term"))
      lift.withColumn("rk", row_number().over(wExp).cast(LongType))
        .filter(col("rk") <= 5)
        .select(col("seed"), col("rk"), col("term"), col("lift"))
        .orderBy("seed", "rk")
    },
    Some("""WITH tok AS MATERIALIZED (SELECT doc_id,
          unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS MATERIALIZED (SELECT doc_id, term,
          CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      dl AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        FROM tok GROUP BY 1),
      df AS MATERIALIZED (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
      corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tok,
          CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
      seeds AS (SELECT unnest(['spark', 'hash', 'vector']) AS seed),
      scored AS (SELECT s.seed, t.doc_id,
          ((CAST(c.n_docs - f.df AS DOUBLE) + 0.5) /
            (CAST(f.df AS DOUBLE) + 0.5)) *
          ((CAST(t.tf AS DOUBLE) * 2.2) /
            (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 +
              0.75 * (CAST(d.dl AS DOUBLE) /
                (CAST(c.total_tok AS DOUBLE) /
                  CAST(c.n_docs AS DOUBLE)))))) AS score
        FROM seeds s
        JOIN tf t ON t.term = s.seed
        JOIN dl d ON d.doc_id = t.doc_id
        JOIN df f ON f.term = s.seed
        CROSS JOIN corpus c),
      fb AS MATERIALIZED (SELECT seed, doc_id FROM (SELECT seed, doc_id,
          row_number() OVER (PARTITION BY seed
            ORDER BY score DESC, doc_id) AS rk
        FROM scored) WHERE rk <= 10),
      fb_tok AS (SELECT f.seed, t.term, CAST(COUNT(*) AS BIGINT)
          AS c_fb
        FROM fb f JOIN tok t ON t.doc_id = f.doc_id
        GROUP BY 1, 2),
      fb_tot AS (SELECT seed, CAST(SUM(c_fb) AS BIGINT) AS t_fb
        FROM fb_tok GROUP BY 1),
      gl AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c_all
        FROM tok GROUP BY 1),
      tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_all FROM tok),
      lift AS (SELECT ft.seed, ft.term,
          CAST(ft.c_fb * t.t_all AS DOUBLE) /
            CAST(fo.t_fb * g.c_all AS DOUBLE) AS lift
        FROM fb_tok ft
        JOIN fb_tot fo ON fo.seed = ft.seed
        JOIN gl g ON g.term = ft.term
        CROSS JOIN tt t
        WHERE ft.term <> ft.seed)
      SELECT seed, CAST(rk AS BIGINT) AS rk, term, lift
      FROM (SELECT seed, term, lift,
          row_number() OVER (PARTITION BY seed
            ORDER BY lift DESC, term) AS rk
        FROM lift) WHERE rk <= 5 ORDER BY seed, rk"""),
    covers = Seq("IR-prf-expansion"))

  // ------------------------------------------------- Fellegi-Sunter
  // Record-linkage agreement weights: exact-duplicate text pairs are
  // the labeled matches M; for each comparison field (lang, source,
  // 100-char length band) m = P(agree|M) over the match pairs and
  // u = P(agree|random) from value frequencies Σf(f−1)/(N(N−1)) —
  // all exact-integer ratios, m/u the linkage odds. The weights
  // table that turns fuzzy matching into scores.
  private val q504 = QueryDef(
    "q504_fellegi_sunter",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          expr("n_chars DIV 100").as("band"))
        .localCheckpoint()
      val n = docs.count()
      val matches = docs.as("a")
        .join(docs.as("b"), col("a.text") === col("b.text") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(
          (col("a.lang") === col("b.lang")).as("ag_lang"),
          (col("a.source") === col("b.source")).as("ag_source"),
          (col("a.band") === col("b.band")).as("ag_band"))
      val m = matches.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ag_lang"), 1L).otherwise(0L)).as("m_lang"),
        sum(when(col("ag_source"), 1L).otherwise(0L)).as("m_source"),
        sum(when(col("ag_band"), 1L).otherwise(0L)).as("m_band"))
      val uAgg = Seq("lang", "source", "band").map { f =>
        docs.groupBy(f).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - 1L)).as(s"u${f}_num"))
      }.reduce(_ crossJoin _)
      m.crossJoin(uAgg)
        .select(
          explode(array(
            struct(lit("1_lang").as("field"),
              (col("m_lang").cast("double") / col("n_pairs").cast("double"))
                .as("m"),
              (col("ulang_num").cast("double") /
                lit((n * (n - 1)).toDouble)).as("u")),
            struct(lit("2_source").as("field"),
              (col("m_source").cast("double") /
                col("n_pairs").cast("double")).as("m"),
              (col("usource_num").cast("double") /
                lit((n * (n - 1)).toDouble)).as("u")),
            struct(lit("3_band").as("field"),
              (col("m_band").cast("double") / col("n_pairs").cast("double"))
                .as("m"),
              (col("uband_num").cast("double") /
                lit((n * (n - 1)).toDouble)).as("u")))).as("r"))
        .select(col("r.field"), col("r.m"), col("r.u"),
          (col("r.m") / col("r.u")).as("odds"))
        .orderBy("field")
    },
    Some("""WITH docs AS (SELECT doc_id, text, lang, source,
          n_chars // 100 AS band FROM documents),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
      matches AS (SELECT
          (a.lang = b.lang) AS ag_lang,
          (a.source = b.source) AS ag_source,
          (a.band = b.band) AS ag_band
        FROM docs a JOIN docs b
          ON b.text = a.text AND a.doc_id < b.doc_id),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(COUNT(*) FILTER (WHERE ag_lang) AS BIGINT) AS m_lang,
          CAST(COUNT(*) FILTER (WHERE ag_source) AS BIGINT) AS m_source,
          CAST(COUNT(*) FILTER (WHERE ag_band) AS BIGINT) AS m_band
        FROM matches),
      ul AS (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS u_num FROM
        (SELECT COUNT(*) AS c FROM docs GROUP BY lang)),
      us AS (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS u_num FROM
        (SELECT COUNT(*) AS c FROM docs GROUP BY source)),
      ub AS (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS u_num FROM
        (SELECT COUNT(*) AS c FROM docs GROUP BY band)),
      rows_ AS (
        SELECT '1_lang' AS field,
          CAST(m.m_lang AS DOUBLE) / CAST(m.n_pairs AS DOUBLE) AS m,
          CAST(ul.u_num AS DOUBLE) /
            CAST(n.n * (n.n - 1) AS DOUBLE) AS u
        FROM m, ul, n
        UNION ALL
        SELECT '2_source',
          CAST(m.m_source AS DOUBLE) / CAST(m.n_pairs AS DOUBLE),
          CAST(us.u_num AS DOUBLE) / CAST(n.n * (n.n - 1) AS DOUBLE)
        FROM m, us, n
        UNION ALL
        SELECT '3_band',
          CAST(m.m_band AS DOUBLE) / CAST(m.n_pairs AS DOUBLE),
          CAST(ub.u_num AS DOUBLE) / CAST(n.n * (n.n - 1) AS DOUBLE)
        FROM m, ub, n)
      SELECT field, m, u, m / u AS odds FROM rows_ ORDER BY field"""),
    covers = Seq("LINK-fellegi-sunter"))

  // ------------------------------------------------- rec novelty
  // Novelty profile of the q463 recommender: where do its
  // recommendations sit on the popularity curve? Popularity ranks
  // from train-period demand (ties → part key), mean rank percentile
  // of recommended slots, and the share of recs from the catalog's
  // long tail (bottom 80%) — the metric that separates "useful" from
  // "recommends bestsellers at everyone".
  private val q513 = QueryDef(
    "q513_rec_novelty",
    (s, dir) => {
      val pop = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("od") < lit("1999-01-01").cast(DateType))
        .groupBy(col("l_partkey").as("rec"))
        .agg(count(lit(1)).as("hits"))
      val w = Window.orderBy(col("hits").desc, col("rec"))
      val ranked = pop.withColumn("prank", row_number().over(w)
        .cast(LongType))
      val nParts = ranked.agg(max("prank").as("np"))
      recs(s, dir)
        .join(ranked, Seq("rec"))
        .crossJoin(broadcast(nParts))
        .agg(count(lit(1)).as("n_recs"), sum("prank").as("sum_rank"),
          max("np").as("np"),
          sum(when(lit(5L) * col("prank") > col("np"), 1L).otherwise(0L))
            .as("n_tail"))
        .select(col("n_recs"),
          (col("sum_rank").cast("double") /
            (col("n_recs") * col("np")).cast("double"))
            .as("mean_rank_pct"),
          (col("n_tail").cast("double") / col("n_recs").cast("double"))
            .as("tail_share"))
    },
    Some(s"""WITH ${recsSql},
      pop AS (SELECT l.l_partkey AS rec, CAST(COUNT(*) AS BIGINT)
          AS hits
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(o.o_orderdate AS DATE) < DATE '1999-01-01'
        GROUP BY 1),
      ranked AS (SELECT rec, CAST(row_number() OVER (
          ORDER BY hits DESC, rec) AS BIGINT) AS prank FROM pop),
      np AS (SELECT CAST(MAX(prank) AS BIGINT) AS np FROM ranked)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_recs,
        CAST(SUM(r.prank) AS DOUBLE) /
          CAST(COUNT(*) * MAX(np.np) AS DOUBLE) AS mean_rank_pct,
        CAST(COUNT(*) FILTER (WHERE 5 * r.prank > np.np) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS tail_share
      FROM recs rc JOIN ranked r ON r.rec = rc.rec
      CROSS JOIN np"""),
    covers = Seq("ML-rec-novelty"))

  val all: Seq[QueryDef] = Seq(q48, q65, q121, q184, q245, q280, q284, q290,
    q448, q463, q466, q465, q467, q468, q469, q471, q473, q474, q475, q476,
    q487, q488, q489, q491, q504, q513)
}
