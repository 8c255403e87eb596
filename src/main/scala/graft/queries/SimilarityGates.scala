package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.Tables.{load => t}

import MlGates.{vdOf, vdSql}
import QueryDef.{Q, Q2, dec38, spread}

/** Embedding similarity gates over `embeddings`: brute-force and
  * approximate nearest neighbours (IVF, PQ, LSH buckets), embedding
  * geometry, clustering and label diagnostics. The all-pairs cosine is
  * explicitly the small-query-set baseline, with the bucketed variants
  * as the 100 TB path.
  */
object SimilarityGates {

  // ---------------------------------------------------------------- similarity: brute-force cosine top-k
  /** dot(a, b) in double, sequential over elements — identical IEEE
    * evaluation order in Spark's `aggregate` fold and DuckDB's
    * `list_sum`.
    */
  private val q29 = QueryDef(
    "q29_cosine_topk",
    (s, dir) => {
      val e = spread(s, t(s, dir, "embeddings"))
      // query pool capped at SamplePools.AnnQueryPool (round 6): the
      // scan side stays the FULL corpus — that's the point of the
      // exact baseline — but the pool no longer grows with it, so the
      // gate is O(pool · corpus), linear in the corpus
      val q = e.filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < lit(50L * SamplePools.AnnQueryPool))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val c = e.select(
        col("vec_id").as("n_id"), col("label").as("n_label"),
        col("embedding").as("n_emb"))
      val cos = graft.functions.CosineSimilarity(col("q_emb"), col("n_emb"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", cos)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("n_id"), col("n_label"), col("cos"),
          col("rk").cast("long").as("rk"))
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                       FROM embeddings
                       WHERE vec_id % 50 = 0
                         AND vec_id < ${50L * SamplePools.AnnQueryPool}),
      c AS (SELECT vec_id AS n_id, label AS n_label, embedding AS n_emb FROM embeddings),
      scored AS (
        SELECT q_id, n_id, n_label,
          list_sum(list_transform(list_zip(q_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(list_zip(q_emb, q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
           sqrt(list_sum(list_transform(list_zip(n_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cos
        FROM c, q WHERE q_id <> n_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
                 FROM scored)
      SELECT q_id, n_id, n_label, cos, rk FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    covers = Seq("SIM-brute"))

  // ---------------------------------------------------------------- similarity: LSH-bucketed ANN
  // Scale path: partition vectors by the sign pattern of 4 fixed
  // dimensions (16 buckets); search only within the query's bucket.
  // At 100 TB the bucket becomes the shuffle/partition key and each
  // bucket is searched independently.
  private val q30 = QueryDef(
    "q30_cosine_ann_bucketed",
    (s, dir) => {
      val e = spread(s, t(s, dir, "embeddings"))
      def bucketOf(emb: Column): Column =
        concat(Seq(1, 9, 17, 25).map(d =>
          when(element_at(emb, d) >= 0, "1").otherwise("0")): _*)
      val b = e.select(
        col("vec_id"), col("label"), col("embedding"),
        bucketOf(col("embedding")).as("bucket"))
      // same AnnQueryPool cap as q29 — the bucket join already bounds
      // the scan side; the cap bounds the probe side too
      val q = b.filter(col("vec_id") % 50 === 0 &&
          col("vec_id") < lit(50L * SamplePools.AnnQueryPool))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"))
      val c = b.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("bucket"))
      val cos = graft.functions.CosineSimilarity(col("q_emb"), col("n_emb"))
      // per-query top-3 via the custom bounded-heap operator (see
      // q58/graft.plans.TopKPerKey) — no full sort of each bucket's
      // candidate list
      val scored = q.join(c, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", cos)
        .select(col("bucket"), col("q_id"), col("n_id"), col("cos"))
      graft.plans.TopKPerKey.perKey(scored, Seq("q_id"),
          Seq(desc("cos"), asc("n_id")), 3, rankName = "rk")
        .orderBy("q_id", "rk")
    },
    Some(s"""WITH b AS (
        SELECT vec_id, embedding,
          (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END) ||
          (CASE WHEN embedding[9] >= 0 THEN '1' ELSE '0' END) ||
          (CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END) ||
          (CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b
            WHERE vec_id % 50 = 0
              AND vec_id < ${50L * SamplePools.AnnQueryPool}),
      c AS (SELECT vec_id AS n_id, embedding AS n_emb, bucket FROM b),
      scored AS (
        SELECT q.bucket, q_id, n_id,
          list_sum(list_transform(list_zip(q_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(list_zip(q_emb, q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
           sqrt(list_sum(list_transform(list_zip(n_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cos
        FROM q JOIN c USING (bucket) WHERE q_id <> n_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
                 FROM scored)
      SELECT bucket, q_id, n_id, cos, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk"""),
    covers = Seq("SIM-ann"))

  // ---------------------------------------------------------------- IVF ANN
  // The trained-index similarity path: deterministic k-means IVF with
  // nprobe cluster pruning (graft.similarity.IvfIndex). k-means has no
  // SQL twin, but the TRAINED MODEL is a pure function of the data —
  // so the gate is hash-gated against a dynamic oracle that inlines
  // the centroids as SQL literals (AnnModelOracle.ivfSql) and
  // re-derives assignment + probe + search + baseline + recall
  // independently in DuckDB. The model comes from the per-JVM
  // TrainedModels cache, shared with the oracle generator, so one
  // training run feeds both sides (see TrainedModels scaladoc). The
  // in-query recall floor stays as a semantic catastrophe guard, and
  // IvfIndexSpec additionally asserts run-to-run determinism.
  private val q45 = QueryDef(
    "q45_ivf_ann",
    (s, dir) => {
      // persisted: assign + search + brute-force baseline would
      // otherwise each rescan the parquet
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .persist()
      val cents = graft.similarity.TrainedModels
        .ivfCentroids(s, dir, k = 16, iters = 3)
      val index = graft.similarity.IvfIndex.assign(emb, cents, "vec_id", "embedding")
      // query pool + brute-force top-3: the AnnBaseline shared path —
      // pool capped at SamplePools.AnnQueryPool (keeps the baseline
      // O(pool · corpus), linear in the corpus) and HASH-GATED as its
      // own sibling gate q45b, so this recall floor measures the IVF
      // index against an oracle-proven baseline
      val queries = AnnBaseline.queryPool(emb, stride = 50L)
      val ivf = graft.similarity.IvfIndex
        .search(index, cents, queries, "vec_id", "embedding", nprobe = 4, topK = 3)
        .localCheckpoint() // O(queries·k) rows; read by recall AND output
      val bf = AnnBaseline
        .bruteForceTopK(emb, queries, k = 3, rankName = "bf_rk")
        .localCheckpoint() // O(queries·k) rows
      val recall = ivf
        .join(bf.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
          Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / 3.0)
          .as("recall3"))
        .localCheckpoint() // O(queries) rows; mean gate + output column
      // bounded-collect: one aggregated mean-recall row — the
      // semantic gate. 0.5 is a CATASTROPHE floor (a broken probe or
      // bucket join scores ~0.05), not a quality target: measured
      // means are 0.59-0.63 across SFs at nprobe 4/16; quality at
      // full training is pinned in IvfIndexSpec
      val mean = recall.agg(avg(col("recall3"))).collect()(0).getDouble(0)
      require(mean >= 0.5, f"IVF recall@3 vs brute force = $mean%.3f < 0.5")
      ivf.join(recall, Seq("q_id"))
        .select(col("q_id"), col("rk"), col("n_id"), col("cos"), col("recall3"))
        .orderBy("q_id", "rk")
    },
    None,
    covers = Seq("SIM-ivf"),
    dynOracle = Some((s, dir) => AnnModelOracle.ivfSql(
      graft.similarity.TrainedModels.ivf(s, dir, k = 16, iters = 3),
      stride = 50L, nprobe = 4, topK = 3)))

  // ------------------------------------------------------------ embedding norms
  // Vector normalization as a narrow per-row op: L2 norm via the
  // sequential-fold dot product (bit-identical across engines) and the
  // first normalized component as the spot check.
  private val q55 = QueryDef(
    "q55_embedding_norms",
    (s, dir) => {
      val e = spread(s, t(s, dir, "embeddings"))
      val l2 = sqrt(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      e.select(
          col("vec_id"), col("label"), l2.as("l2"),
          (element_at(col("embedding"), 1).cast("double") / l2).as("c1_normed"))
        .orderBy("vec_id")
    },
    Some("""WITH n AS (
        SELECT vec_id, label,
          sqrt(list_sum(list_transform(list_zip(embedding, embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS l2
        FROM embeddings)
      SELECT n.vec_id, n.label, n.l2,
        CAST(e.embedding[1] AS DOUBLE) / n.l2 AS c1_normed
      FROM n JOIN embeddings e ON n.vec_id = e.vec_id
      ORDER BY n.vec_id"""),
    covers = Seq("SIM-normalize"))

  // ------------------------------------------------------------ sparse similarity join
  // Document similarity as a sparse term-vector dot product through an
  // inverted index: explode to (doc, term, count) postings, self-join
  // on term, sum the count products. Pure integer arithmetic — fully
  // deterministic, no floating-point accumulation order to worry
  // about. At scale this is THE text-similarity join shape: shuffle
  // is bounded by posting-list sizes (cap heavy terms like q22), never
  // all-pairs.
  private val q91 = QueryDef(
    "q91_sparse_dot",
    (s, dir) => {
      val tc = t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      val a = tc.select(col("doc_id").as("doc_a"), col("term"), col("c").as("ca"))
      val b = tc.select(col("doc_id").as("doc_b"), col("term"), col("c").as("cb"))
      val pairs = a.join(b, Seq("term"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(col("ca") * col("cb")).as("dot"))
      val w = Window.partitionBy("doc_a").orderBy(desc("dot"), col("doc_b"))
      pairs.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .orderBy("doc_a", "rk")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents WHERE doc_id < 100),
      tc AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM tc a JOIN tc b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_a ORDER BY dot DESC, doc_b) AS rk
            FROM pairs)
      SELECT doc_a, doc_b, dot, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 3 ORDER BY doc_a, rk"""),
    covers = Seq("SIM-sparse-dot"))

  // ------------------------------------------------------ PQ compressed ANN
  // Product-quantization ANN (similarity/PqIndex): train 8×16
  // codebooks, encode the corpus 32× smaller, ADC-generate candidates
  // from the codes alone, exact-cosine refine to top-5. k-means has
  // no SQL twin, but the trained CODEBOOK is a pure function of the
  // data — the gate is hash-gated against a dynamic oracle that
  // inlines the codebook (+ driver-side cell norms) as SQL literals
  // (AnnModelOracle.pqSql) and re-derives encode + ADC + refine +
  // baseline + recall independently in DuckDB, with the model shared
  // through the per-JVM TrainedModels cache so one training run feeds
  // both sides. The in-query recall floor stays as a semantic
  // catastrophe guard; PqIndexSpec pins recall with a fully-trained
  // book (iters=1 here keeps the gate cheap).
  private val q106 = QueryDef(
    "q106_pq_ann",
    (s, dir) => {
      import graft.similarity.PqIndex
      val emb = t(s, dir, "embeddings")
      // query pool via the AnnBaseline shared path — every-100th id
      // capped at SamplePools.AnnQueryPool (linear-in-corpus
      // baseline); the baseline itself is hash-gated as q106b
      val queries = AnnBaseline.queryPool(emb, stride = 100L)
      val book = graft.similarity.TrainedModels
        .pq(s, dir, m = 8, k = 16, iters = 1)
      val codes = PqIndex.encode(emb, "vec_id", "embedding", book)
      val pq = PqIndex.searchRefined(codes, emb, queries, book,
        "vec_id", "embedding", topK = 5, refine = 40)
        .localCheckpoint() // O(queries·k) rows; read by recall AND output
      val cosBf = graft.functions.CosineSimilarity(col("q_emb"), col("embedding"))
      val scoredAll = emb.crossJoin(broadcast(queries))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cos_bf", cosBf)
        .select(col("q_id"), col("vec_id").as("n_id"), col("cos_bf"))
      val bf = graft.plans.TopKPerKey.perKey(scoredAll, Seq("q_id"),
        Seq(desc("cos_bf"), asc("n_id")), 5, rankName = "bf_rk")
        .localCheckpoint() // O(queries·k) rows
      val recall = pq
        .join(bf.select(col("q_id"), col("n_id"), lit(1L).as("hit")),
          Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") / 5.0)
          .as("recall5"))
        .localCheckpoint() // O(queries) rows; mean gate + output column
      // bounded-collect: one aggregated mean-recall row — the
      // semantic gate for the shape-checking iters=1 book. 0.4 is a
      // CATASTROPHE floor (broken ADC or refine scores near 0):
      // measured means are 0.51-0.68 across SFs with this one-iter
      // book; full-training quality is pinned in PqIndexSpec
      val mean = recall.agg(avg(col("recall5"))).collect()(0).getDouble(0)
      require(mean >= 0.4, f"PQ recall@5 vs brute force = $mean%.3f < 0.4")
      pq.join(recall, Seq("q_id"))
        .select(col("q_id"), col("rk"), col("n_id"), col("cos"), col("recall5"))
        .orderBy("q_id", "rk")
    },
    None,
    covers = Seq("T-ann-pq"),
    dynOracle = Some((s, dir) => AnnModelOracle.pqSql(
      graft.similarity.TrainedModels.pq(s, dir, m = 8, k = 16, iters = 1),
      stride = 100L, refine = 40, topK = 5)))

  // ---------------------------------------------- int8 quantization
  // Symmetric per-vector int8 quantization of the embedding column —
  // the compression step before shipping vectors to an ANN index
  // (PQ's scalar cousin; 4× smaller than float32). Per row: maxabs
  // scale, q_i = clip(floor(x_i·127/maxabs)) — all in-row HOFs, no
  // shuffle at all until the tiny verification aggregate. float→double
  // casts are exact and the scale expression is ONE shared IEEE tree,
  // so floor() lands identically in both engines; the int sums are
  // then order-independent. All-zero vectors (maxabs=0) quantize to
  // zeros by the guard, not NaN.
  private val q166 = QueryDef(
    "q166_int8_quantize",
    (s, dir) => {
      val xd = (c: Column) => c.cast("double")
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
        .withColumn("maxabs",
          array_max(transform(col("embedding"), x => abs(xd(x)))))
      val quant = transform(col("embedding"), x =>
        when(col("maxabs") === 0d, lit(0))
          .otherwise(least(lit(127), greatest(lit(-127),
            floor(xd(x) * lit(127.0) / col("maxabs")).cast(IntegerType)))))
      emb
        .withColumn("q", quant)
        .select(col("vec_id"),
          size(col("q")).cast(LongType).as("n_dim"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          size(filter(col("q"), v => v =!= 0)).cast(LongType).as("n_nonzero"),
          col("maxabs"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings WHERE vec_id % 4 = 0),
      q AS (
        SELECT vec_id, maxabs,
          list_transform(embedding, x -> CASE WHEN maxabs = 0 THEN 0
            ELSE CAST(least(127, greatest(-127,
              floor(CAST(x AS DOUBLE) * 127.0 / maxabs))) AS INTEGER) END) AS qv
        FROM e)
      SELECT vec_id,
        CAST(len(qv) AS BIGINT) AS n_dim,
        CAST(list_sum(qv) AS BIGINT) AS q_sum,
        CAST(list_min(qv) AS INTEGER) AS q_min,
        CAST(list_max(qv) AS INTEGER) AS q_max,
        CAST(len(list_filter(qv, v -> v != 0)) AS BIGINT) AS n_nonzero,
        maxabs
      FROM q ORDER BY vec_id"""),
    covers = Seq("SIM-quantize"))

  // ------------------------------------------- label centroids (quantized)
  // Per-label embedding centroids through exact integer arithmetic:
  // each float coordinate scales by 2^20 (a power of two, so the
  // double multiply and floor are EXACT), sums accumulate as BIGINT
  // (order-independent), and the centroid surfaces as one double
  // division — bit-identical under any partitioning, unlike a naive
  // float mean. The classifier-diagnostics shape: posexplode to
  // (label, dim, q), one groupBy — at 100 TB this is the standard
  // "collapse the corpus to per-class statistics" pass.
  private val q177 = QueryDef(
    "q177_label_centroids",
    (s, dir) => {
      val q = t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * lit(1048576d)).cast(LongType)))
            .as(Seq("dim", "qv")))
        .filter(col("dim") % 16 === 0)
      q.groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vecs"), sum(col("qv")).as("qsum"))
        .select(col("label"), col("dim"), col("n_vecs"),
          (col("qsum").cast("double") /
            (col("n_vecs") * 1048576L).cast("double")).as("centroid"))
        .orderBy("label", "dim")
    },
    Some("""WITH e AS (SELECT label, embedding FROM embeddings),
      qi AS (SELECT label, tk.i - 1 AS dim,
               CAST(floor(CAST(embedding[tk.i] AS DOUBLE) * 1048576) AS BIGINT) AS qv
             FROM e, (SELECT unnest(generate_series(1, 64)) AS i) tk
             WHERE (tk.i - 1) % 16 = 0),
      g AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
              CAST(SUM(qv) AS BIGINT) AS qsum
            FROM qi GROUP BY 1, 2)
      SELECT label, dim, n_vecs,
        CAST(qsum AS DOUBLE) / CAST(n_vecs * 1048576 AS DOUBLE) AS centroid
      FROM g WHERE dim % 16 = 0
      ORDER BY label, dim"""),
    covers = Seq("SIM-centroids"))

  // ------------------------------------- banded edit-distance join
  // Edit-distance similarity join over distinct part names with a
  // LOSSLESS candidate band: |len(a) − len(b)| ≤ 2 is implied by
  // levenshtein ≤ 2, so blocking on the three length keys (n−1, n,
  // n+1) generates every qualifying pair as an equi-join — no O(n²)
  // all-pairs, no recall loss (first-letter blocking would silently
  // drop 'kitten'/'mitten' pairs). Exact levenshtein verifies the
  // candidate sliver. The oracle brute-forces all pairs — agreement
  // proves the band lossless.
  private val q186 = QueryDef(
    "q186_editdist_join",
    (s, dir) => {
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val banded = names.select(col("p_name"),
        explode(array(length(col("p_name")) - 1, length(col("p_name")),
          length(col("p_name")) + 1)).as("lk"))
      // both sides carry keys {n-1, n, n+1}: key sets intersect
      // exactly when |len(a) - len(b)| <= 2, so every lev<=2 pair
      // meets on some key (pairs meeting on several are dropped by
      // the distinct). At corpus scale the band key would compose
      // with a q-gram prefix (length alone over-buckets); the
      // length band is the part that is provably lossless.
      val left = banded.select(col("p_name").as("a"), col("lk"))
      val right = banded.select(col("p_name").as("b"), col("lk"))
      left.join(right, "lk")
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
        .filter(abs(length(col("a")) - length(col("b"))) <= 2)
        .withColumn("dist", levenshtein(col("a"), col("b")))
        .filter(col("dist") <= 2)
        .orderBy("a", "b")
    },
    Some("""WITH n AS (SELECT DISTINCT p_name FROM part)
      SELECT a.p_name AS a, b.p_name AS b,
        CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM n a JOIN n b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
      ORDER BY a, b"""),
    covers = Seq("SIM-editdist"))

  // ------------------------------------------- matryoshka truncation
  // MRL-style prefix-dimension diagnostics: how much of each vector's
  // energy survives truncation to the first 16 of 64 dims, and the
  // first coordinate renormalized within the truncated vector. The
  // decision input for "can we store 4× fewer dims?". Per-row only —
  // float→double casts are exact and both engines fold the squares
  // SEQUENTIALLY (aggregate ↔ list_sum, q55's determinism pattern),
  // so the ratio is ONE shared IEEE tree and hash-exact.
  private val q194 = QueryDef(
    "q194_matryoshka",
    (s, dir) => {
      val sq = transform(col("embedding"), x => x.cast("double") * x.cast("double"))
      val eFull = aggregate(sq, lit(0.0), (acc, v) => acc + v)
      val eHead = aggregate(slice(sq, 1, 16), lit(0.0), (acc, v) => acc + v)
      t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("label"),
          eFull.as("e_full"), eHead.as("e_head"),
          (eHead / eFull).as("retained"),
          (element_at(col("embedding"), 1).cast("double") / sqrt(eHead))
            .as("c1_renormed"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (
        SELECT vec_id, label, embedding,
          list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e_full,
          list_sum(list_transform(embedding[1:16],
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS e_head
        FROM embeddings WHERE vec_id % 2 = 0)
      SELECT vec_id, label, e_full, e_head,
        e_head / e_full AS retained,
        CAST(embedding[1] AS DOUBLE) / sqrt(e_head) AS c1_renormed
      FROM e ORDER BY vec_id"""),
    covers = Seq("SIM-matryoshka"))

  // ------------------------------------------- rendezvous sharding
  // Highest-random-weight (rendezvous) shard assignment, and WHY it
  // beats `key % n` at scale: growing 8 → 9 shards moves only the
  // keys whose new shard wins the weight race (expected 1/9 ≈ 11%),
  // while `% n` reshuffles ~8/9 of the corpus. Weights are md5-derived
  // 56-bit integers packed with the shard id (·16 + s), the argmax is
  // `greatest` over nine per-row arms — narrow, no explode, no
  // aggregate buffer demotion — and the mover counts are exact in
  // both engines because md5 of identical strings is identical.
  private val q232 = QueryDef(
    "q232_rendezvous_sharding",
    (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id")
      val shard8 = graft.functions.RendezvousShard.shardOf(col("doc_id"), 8)
      val shard9 = graft.functions.RendezvousShard.shardOf(col("doc_id"), 9)
      d.select(
          (col("doc_id") % 8 =!= col("doc_id") % 9).as("mod_moved"),
          (shard8 =!= shard9).as("rdv_moved"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rdv_moved"), 1L).otherwise(0L)).as("moved_rendezvous"),
          sum(when(col("mod_moved"), 1L).otherwise(0L)).as("moved_mod"))
        .select(col("n_docs"), col("moved_rendezvous"), col("moved_mod"),
          (col("moved_rendezvous").cast("double") / col("n_docs").cast("double"))
            .as("rendezvous_share"),
          (col("moved_mod").cast("double") / col("n_docs").cast("double"))
            .as("mod_share"))
    },
    Some {
      def w(i: Int) =
        s"(('0x' || substr(md5(doc_id || ':$i'), 1, 14))::BIGINT * 16 + $i)"
      val g8 = (0 until 8).map(w).mkString("greatest(", ", ", ")")
      val g9 = (0 until 9).map(w).mkString("greatest(", ", ", ")")
      s"""WITH m AS (SELECT doc_id % 8 <> doc_id % 9 AS mod_moved,
          $g8 % 16 <> $g9 % 16 AS rdv_moved FROM documents)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN rdv_moved THEN 1 ELSE 0 END) AS BIGINT)
            AS moved_rendezvous,
          CAST(SUM(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT)
            AS moved_mod,
          CAST(SUM(CASE WHEN rdv_moved THEN 1 ELSE 0 END) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS rendezvous_share,
          CAST(SUM(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS mod_share
        FROM m"""
    },
    covers = Seq("SHARD-rendezvous"))

  // ------------------------------------------------- k-NN classification
  // Majority-vote label assignment: hold out vec_id % 10 = 0 as the
  // "unlabeled" query set, find each query's 7 nearest labeled
  // vectors by cosine (brute force, q29's proven-portable scoring),
  // and assign the modal neighbor label (ties: most votes, then
  // smallest label — a total order). This is label propagation for
  // training-data curation: extend a seed labeling to new documents
  // by embedding proximity. The candidate side streams (broadcast
  // queries, no shuffle of the big side); the vote is a tiny
  // per-query aggregate over k rows. At 100 TB the same plan holds
  // with the IVF/LSH variants (q30/q45) swapped in as the k-NN
  // source.
  private val q262 = QueryDef(
    "q262_knn_classify",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val q = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val c = e.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("n_id"), col("label").as("n_label"),
          col("embedding").as("n_emb"))
      graft.similarity.KnnVote.classify(q, c, 7)
        .withColumnRenamed("q_label", "true_label")
        .orderBy("q_id")
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, label AS true_label, embedding AS q_emb
               FROM embeddings WHERE vec_id % 10 = 0),
      c AS (SELECT vec_id AS n_id, label AS n_label, embedding AS n_emb
            FROM embeddings WHERE vec_id % 10 <> 0),
      scored AS (
        SELECT q_id, true_label, n_id, n_label,
          list_sum(list_transform(list_zip(q_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(list_zip(q_emb, q_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
           sqrt(list_sum(list_transform(list_zip(n_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cos
        FROM c, q),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, n_id) AS rk FROM scored),
      votes AS (SELECT q_id, true_label, n_label,
                  CAST(COUNT(*) AS BIGINT) AS votes
                FROM ranked WHERE rk <= 7 GROUP BY 1, 2, 3),
      winner AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY votes DESC, n_label) AS vr FROM votes)
      SELECT q_id, true_label, n_label AS predicted, votes,
        n_label = true_label AS correct
      FROM winner WHERE vr = 1 ORDER BY q_id"""),
    covers = Seq("SIM-knn-classify"))

  // ------------------------------------------------- label-noise audit
  // Confident-learning-style label QA: for a 20% audit sample, check
  // each vector's label against its 5 nearest neighbors (q29's
  // portable cosine). Low agreement flags a probably-mislabeled
  // example BEFORE it trains a model. Emits the agreement count, the
  // modal neighbor label (votes DESC, label ASC — a total order) and
  // the suspect verdict. The audit sample is the broadcast side and
  // the full corpus streams — at 100 TB the same vote runs off the
  // q30/q45 bucketed-ANN neighbor source instead of brute force.
  private val q265 = QueryDef(
    "q265_label_noise",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val a = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("embedding").as("n_emb"))
      graft.similarity.KnnVote.auditLabels(a, c, 5, suspectMax = 2L)
        .withColumnRenamed("q_id", "a_id")
        .withColumnRenamed("q_label", "a_label")
        .orderBy("a_id")
    },
    Some("""WITH a AS (SELECT vec_id AS a_id, label AS a_label, embedding AS a_emb
               FROM embeddings WHERE vec_id % 5 = 0),
      c AS (SELECT vec_id AS n_id, label AS n_label, embedding AS n_emb
            FROM embeddings),
      scored AS (
        SELECT a_id, a_label, n_id, n_label,
          list_sum(list_transform(list_zip(a_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
          (sqrt(list_sum(list_transform(list_zip(a_emb, a_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
           sqrt(list_sum(list_transform(list_zip(n_emb, n_emb),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))) AS cos
        FROM c, a WHERE a_id <> n_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                   ORDER BY cos DESC, n_id) AS rk FROM scored),
      votes AS (SELECT a_id, a_label, n_label,
                  CAST(COUNT(*) AS BIGINT) AS votes
                FROM ranked WHERE rk <= 5 GROUP BY 1, 2, 3),
      tallied AS (SELECT *,
          CAST(SUM(CASE WHEN n_label = a_label THEN votes ELSE 0 END)
            OVER (PARTITION BY a_id) AS BIGINT) AS agree_n,
          ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY votes DESC, n_label) AS vr
        FROM votes)
      SELECT a_id, a_label, agree_n, n_label AS modal_label,
        agree_n <= 2 AS suspect
      FROM tallied WHERE vr = 1 ORDER BY a_id"""),
    covers = Seq("SIM-label-noise"))

  // ------------------------------------------------- dim-pair correlation
  // Feature-redundancy audit a PCA/whitening pass starts from: Pearson
  // correlation between 8 probe dimensions of the embedding space, from
  // one-pass sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²). The 28
  // pairs explode map-side (28 structs/row, no shuffle growth) and the
  // sums are map-side-combined exact longs — the shuffle moves 28 rows
  // of partials per partition regardless of input size, so the plan is
  // a single scan at any scale. Final products (n·Σxy …) run as
  // DECIMAL(38,0)×DECIMAL(38,0) (HUGEINT on the oracle side): at 10¹²
  // rows they exceed int64 but stay exact in 38 digits.
  private val q304 = QueryDef(
    "q304_dim_corr",
    (s, dir) => {
      val dims = 0 until 64 by 8
      val e = t(s, dir, "embeddings").select(
        dims.map(d => floor(element_at(col("embedding"), d + 1).cast("double")
          * lit(Q.toDouble)).cast(LongType).as(s"q$d")): _*)
      val pairs = for { i <- dims; j <- dims if i < j } yield
        struct(lit(i.toLong).as("d1"), lit(j.toLong).as("d2"),
          col(s"q$i").as("x"), col(s"q$j").as("y"))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      val g = e.select(explode(array(pairs: _*)).as("p"))
        .select(col("p.d1"), col("p.d2"), col("p.x"), col("p.y"))
        .groupBy("d1", "d2")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = dec(col("n_vecs")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den1 = dec(col("n_vecs")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val den2 = dec(col("n_vecs")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      g.withColumn("num", num).withColumn("den1", den1).withColumn("den2", den2)
        .filter(col("den1") > 0 && col("den2") > 0)
        .select(col("d1"), col("d2"), col("n_vecs"),
          (col("num").cast("double") /
            (col("n_vecs").cast("double") * col("n_vecs").cast("double") * lit(Q2)))
            .as("cov"),
          (col("num").cast("double") /
            (sqrt(col("den1").cast("double")) * sqrt(col("den2").cast("double"))))
            .as("corr"))
        .orderBy("d1", "d2")
    },
    Some("""WITH dims AS (SELECT unnest([0,8,16,24,32,40,48,56]) AS d),
      px AS (SELECT CAST(d1.d AS BIGINT) AS d1, CAST(d2.d AS BIGINT) AS d2,
          CAST(floor(CAST(embedding[d1.d + 1] AS DOUBLE) * 1048576) AS BIGINT) AS x,
          CAST(floor(CAST(embedding[d2.d + 1] AS DOUBLE) * 1048576) AS BIGINT) AS y
        FROM embeddings, dims d1, dims d2 WHERE d1.d < d2.d),
      g AS (SELECT d1, d2, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM px GROUP BY d1, d2),
      f AS (SELECT d1, d2, n_vecs,
          CAST(n_vecs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n_vecs AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den1,
          CAST(n_vecs AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS den2
        FROM g)
      SELECT d1, d2, n_vecs,
        CAST(num AS DOUBLE)
          / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE)
             * CAST(1099511627776 AS DOUBLE)) AS cov,
        CAST(num AS DOUBLE)
          / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE))) AS corr
      FROM f WHERE den1 > 0 AND den2 > 0
      ORDER BY d1, d2"""),
    covers = Seq("SIM-dim-corr"))

  // ------------------------------------------------- norm calibration
  // Classifier-calibration table over the embedding space: squared
  // L2 norm (exact fixed-point, summed per row with the `aggregate`
  // HOF — no shuffle, no UDF) deciled by ntile over the (norm, vec_id)
  // total order, each decile reporting its positive-label rate. The
  // global ntile is the semantics being gated; at corpus scale the
  // same table would come from approx_percentile cut points (q190)
  // instead of a single-partition window.
  private val q307 = QueryDef(
    "q307_norm_calibration",
    (s, dir) => {
      val qv = transform(col("embedding"),
        x => floor(x.cast("double") * lit(Q.toDouble)).cast(LongType))
      val q2 = aggregate(qv, lit(0L), (acc, v) => acc + v * v)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), q2.as("q2norm"))
      val w = Window.orderBy(col("q2norm"), col("vec_id"))
      e.withColumn("decile", ntile(10).over(w).cast(LongType))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("label") >= 5, 1L).otherwise(0L)).as("positives"),
          sum(col("q2norm")).as("sq2"))
        .select(col("decile"), col("n_vecs"), col("positives"),
          (col("positives").cast("double") / col("n_vecs").cast("double"))
            .as("pos_rate"),
          (col("sq2").cast("double") / (col("n_vecs").cast("double") * lit(Q2)))
            .as("mean_sq_norm"))
        .orderBy("decile")
    },
    Some("""WITH e AS (SELECT vec_id, label,
          CAST(list_sum(list_transform(
              list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)),
              v -> v * v)) AS BIGINT) AS q2norm
        FROM embeddings),
      d AS (SELECT label, q2norm,
          CAST(ntile(10) OVER (ORDER BY q2norm, vec_id) AS BIGINT) AS decile
        FROM e),
      g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_vecs,
          CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS positives,
          CAST(SUM(q2norm) AS BIGINT) AS sq2
        FROM d GROUP BY decile)
      SELECT decile, n_vecs, positives,
        CAST(positives AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS pos_rate,
        CAST(sq2 AS DOUBLE)
          / (CAST(n_vecs AS DOUBLE) * CAST(1099511627776 AS DOUBLE))
          AS mean_sq_norm
      FROM g ORDER BY decile"""),
    covers = Seq("SIM-calibration"))

  // ------------------------------------------------- Fisher scores
  // Feature-selection audit: per probe dimension, the Fisher score —
  // between-class variance of the label means over the pooled
  // within-class variance. All moments come from per-(label, dim)
  // exact quantized sums; the variance algebra runs on those longs
  // and surfaces as one division chain. Shuffle carries
  // |labels|·|dims| partial rows — constant in corpus size.
  private val q330 = QueryDef(
    "q330_fisher_scores",
    (s, dir) => {
      val dims = 0 until 64 by 8
      val e = t(s, dir, "embeddings").select(col("label").cast(LongType).as("lbl") +:
        dims.map(d => floor(element_at(col("embedding"), d + 1).cast("double")
          * lit(Q.toDouble)).cast(LongType).as(s"q$d")): _*)
      val pairs = dims.map(d =>
        struct(lit(d.toLong).as("dim"), col(s"q$d").as("x")))
      val g = e.select(col("lbl"), explode(array(pairs: _*)).as("p"))
        .select(col("lbl"), col("p.dim"), col("p.x"))
        .groupBy("dim", "lbl")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      // per dim: N, grand sum, and Σ_c sx_c²/n_c — the class terms are
      // rational doubles, so they fold in a FIXED lbl order on both
      // engines (aggregate ↔ list_reduce, the q302 pattern); a plain
      // sum(double) would be partial-aggregation-order dependent
      val term = (col("sx").cast("double") * col("sx").cast("double") /
        col("n").cast("double")).as("v")
      val terms = g.select(col("dim"), col("lbl"), col("n"), col("sx"),
        col("sxx"), term)
      val perDim = terms.groupBy("dim").agg(
        sum(col("n")).as("nn"), sum(col("sx")).as("gsx"),
        aggregate(
          sort_array(collect_list(struct(col("lbl"), col("v")))),
          lit(0.0d), (acc, x) => acc + x.getField("v"))
          .as("sum_sx2_over_n"),
        sum(col("sxx")).as("gsxx"),
        count(lit(1)).as("k"))
      perDim.select(col("dim"), col("k").as("n_classes"),
        ((col("sum_sx2_over_n") -
          col("gsx").cast("double") * col("gsx").cast("double") /
            col("nn").cast("double")) /
          (col("gsxx").cast("double") - col("sum_sx2_over_n")))
          .as("fisher"))
        .orderBy("dim")
    },
    Some("""WITH dims AS (SELECT unnest([0,8,16,24,32,40,48,56]) AS d),
      px AS (SELECT CAST(label AS BIGINT) AS lbl, CAST(d AS BIGINT) AS dim,
          CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1048576) AS BIGINT)
            AS x
        FROM embeddings, dims),
      g AS (SELECT dim, lbl, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM px GROUP BY dim, lbl),
      tm AS (SELECT dim, lbl, n, sx, sxx,
          CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS v
        FROM g),
      pd AS (SELECT dim, CAST(SUM(n) AS BIGINT) AS nn,
          CAST(SUM(sx) AS BIGINT) AS gsx,
          CAST(0 AS DOUBLE) + list_reduce(list(v ORDER BY lbl),
            (a, b) -> a + b) AS sum_sx2_over_n,
          CAST(SUM(sxx) AS BIGINT) AS gsxx,
          CAST(COUNT(*) AS BIGINT) AS k
        FROM tm GROUP BY dim)
      SELECT dim, k AS n_classes,
        (sum_sx2_over_n
          - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / CAST(nn AS DOUBLE))
        / (CAST(gsxx AS DOUBLE) - sum_sx2_over_n) AS fisher
      FROM pd ORDER BY dim"""),
    covers = Seq("SIM-fisher"))

  // ------------------------------------------------- clip plan
  // The outlier-clipping plan a feature-normalization step ships:
  // per probe dimension, exact P1/P99 thresholds (percentile_disc on
  // quantized values — order statistics, no interpolation) and the
  // fraction of values outside them. Thresholds aggregate to 8 rows
  // and broadcast back; the outside-count is one more scan.
  private val q344 = QueryDef(
    "q344_embedding_clip_plan",
    (s, dir) => {
      val dims = 0 until 64 by 8
      val e = t(s, dir, "embeddings").select(
        dims.map(d => floor(element_at(col("embedding"), d + 1).cast("double")
          * lit(Q.toDouble)).cast(LongType).as(s"q$d")): _*)
      val long = e.select(explode(array(dims.map(d =>
        struct(lit(d.toLong).as("dim"), col(s"q$d").as("qv"))): _*)).as("p"))
        .select(col("p.dim"), col("p.qv"))
      val th = long.groupBy("dim").agg(
        expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY qv)")
          .cast(LongType).as("p01"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY qv)")
          .cast(LongType).as("p99"))
      long.join(broadcast(th), Seq("dim"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          first(col("p01")).as("p01"), first(col("p99")).as("p99"),
          sum(when(col("qv") < col("p01") || col("qv") > col("p99"), 1L)
            .otherwise(0L)).as("n_clipped"))
        .select(col("dim"),
          (col("p01").cast("double") / lit(Q.toDouble)).as("lo"),
          (col("p99").cast("double") / lit(Q.toDouble)).as("hi"),
          col("n_clipped"),
          (col("n_clipped").cast("double") / col("n").cast("double"))
            .as("clip_rate"))
        .orderBy("dim")
    },
    Some("""WITH dims AS (SELECT unnest([0,8,16,24,32,40,48,56]) AS d),
      lng AS (SELECT CAST(d AS BIGINT) AS dim,
          CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1048576) AS BIGINT)
            AS qv
        FROM embeddings, dims),
      th AS (SELECT dim,
          CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY qv) AS BIGINT)
            AS p01,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY qv) AS BIGINT)
            AS p99
        FROM lng GROUP BY dim),
      g AS (SELECT lng.dim, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(p01) AS p01, MIN(p99) AS p99,
          CAST(SUM(CASE WHEN qv < p01 OR qv > p99 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped
        FROM lng JOIN th USING (dim)
        GROUP BY lng.dim)
      SELECT dim,
        CAST(p01 AS DOUBLE) / CAST(1048576 AS DOUBLE) AS lo,
        CAST(p99 AS DOUBLE) / CAST(1048576 AS DOUBLE) AS hi,
        n_clipped,
        CAST(n_clipped AS DOUBLE) / CAST(n AS DOUBLE) AS clip_rate
      FROM g ORDER BY dim"""),
    covers = Seq("SIM-clip-plan"))

  // ------------------------------------------------- intra-label coherence
  // Mean pairwise cosine within each label, WITHOUT the quadratic
  // pair join: for unit-normalized vectors u, Σ_pairs u·v =
  // (‖Σu‖² − Σ‖u‖²)/2, so one pass of exact fixed-point sums per
  // (label, dim) answers it. Normalization happens per row (sqrt is
  // IEEE-exact), quantization after it keeps every later sum integer.
  // The de-quantized mean is the class-coherence number an embedding
  // QA gate watches.
  private val q350 = QueryDef(
    "q350_intra_label_coherence",
    (s, dir) => {
      val x2 = transform(col("embedding"),
        x => x.cast("double") * x.cast("double"))
      val l2 = sqrt(aggregate(x2, lit(0.0d), (a, b) => a + b))
      val e = t(s, dir, "embeddings")
        .withColumn("l2", l2).filter(col("l2") > 0)
        .withColumn("u", transform(col("embedding"),
          x => floor(x.cast("double") / col("l2") * lit(Q.toDouble))
            .cast(LongType)))
        .select(col("label").cast(LongType).as("lbl"), col("u"),
          aggregate(col("u"), lit(0L), (a, b) => a + b * b).as("q2"))
        // materialized once: the normalize/quantize lambda chain (4
        // array HOFs per row — interpreted, not codegen'd) feeds two
        // different aggregations (per-row sums and the posexplode'd
        // per-dim sums) whose exchanges differ, so nothing is reusable
        // without it and the HOF pass ran twice
        .localCheckpoint()
      val perRow = e.groupBy("lbl")
        .agg(count(lit(1)).as("n"), sum(col("q2")).as("sq2"))
      val dims = e.select(col("lbl"),
        posexplode(col("u")).as(Seq("dim", "ud")))
        .groupBy("lbl", "dim").agg(sum(col("ud")).as("su"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val sumSq = dims.groupBy("lbl")
        .agg(sum(dec(col("su")) * dec(col("su"))).as("ssu2"))
      perRow.join(sumSq, Seq("lbl"))
        .filter(col("n") > 1)
        .select(col("lbl").as("label"), col("n").as("n_vecs"),
          ((col("ssu2") - dec(col("sq2"))).cast("double") /
            ((col("n") * (col("n") - 1L)).cast("double") * lit(Q2)))
            .as("intra_cosine"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS lbl,
          list_transform(embedding, x ->
            CAST(floor(CAST(x AS DOUBLE)
              / sqrt(list_reduce(list_transform(embedding,
                  y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                (a, b) -> a + b)) * 1048576) AS BIGINT)) AS u
        FROM embeddings
        WHERE sqrt(list_reduce(list_transform(embedding,
            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
          (a, b) -> a + b)) > 0),
      pr AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(list_reduce(list_transform(u, v -> v * v),
            (a, b) -> a + b)) AS BIGINT) AS sq2
        FROM e GROUP BY lbl),
      dims AS (SELECT lbl, d.i AS dim,
          CAST(SUM(u[d.i]) AS BIGINT) AS su
        FROM e, (SELECT unnest(generate_series(1, 64)) AS i) d
        GROUP BY lbl, d.i),
      ss AS (SELECT lbl,
          SUM(CAST(su AS HUGEINT) * su) AS ssu2
        FROM dims GROUP BY lbl)
      SELECT lbl AS label, n AS n_vecs,
        CAST(ssu2 - sq2 AS DOUBLE)
          / (CAST(n * (n - 1) AS DOUBLE) * CAST(1099511627776 AS DOUBLE))
          AS intra_cosine
      FROM pr JOIN ss USING (lbl)
      WHERE n > 1
      ORDER BY label"""),
    covers = Seq("SIM-coherence"))

  // ------------------------------------------------- effective dimensions
  // Participation ratio (Σλ)²/Σλ² of the probe-dim variances — the
  // effective dimensionality of the embedding space (8 = isotropic,
  // →1 = one dominant direction). Variances are exact DECIMAL(38,0)
  // integers (n·Σx² − (Σx)²), de-quantized to doubles once; both
  // 8-term folds run in fixed dim order.
  private val q353 = QueryDef(
    "q353_effective_dims",
    (s, dir) => {
      val dims = 0 until 64 by 8
      val e = t(s, dir, "embeddings").select(
        dims.map(d => floor(element_at(col("embedding"), d + 1).cast("double")
          * lit(Q.toDouble)).cast(LongType).as(s"q$d")): _*)
      val long = e.select(explode(array(dims.map(d =>
        struct(lit(d.toLong).as("dim"), col(s"q$d").as("x"))): _*)).as("p"))
        .select(col("p.dim"), col("p.x"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val g = long.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("vraw",
          (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))))
        .withColumn("v", col("vraw").cast("double") /
          ((col("n") * col("n")).cast("double") * lit(Q2)))
      val folds = g.agg(
        aggregate(sort_array(collect_list(struct(col("dim"), col("v")))),
          lit(0.0d), (a, x) => a + x.getField("v")).as("sv"),
        aggregate(sort_array(collect_list(struct(col("dim"),
          (col("v") * col("v")).as("v2")))),
          lit(0.0d), (a, x) => a + x.getField("v2")).as("sv2"))
      g.crossJoin(broadcast(folds))
        .select(col("dim"), col("v").as("variance"),
          (col("v") / col("sv")).as("var_share"),
          (col("sv") * col("sv") / col("sv2")).as("effective_dims"))
        .orderBy("dim")
    },
    Some("""WITH dims AS (SELECT unnest([0,8,16,24,32,40,48,56]) AS d),
      lng AS (SELECT CAST(d AS BIGINT) AS dim,
          CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1048576) AS BIGINT)
            AS x
        FROM embeddings, dims),
      g AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM lng GROUP BY dim),
      v AS (SELECT dim,
          CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
            / (CAST(n * n AS DOUBLE) * CAST(1099511627776 AS DOUBLE)) AS v
        FROM g),
      f AS (SELECT
          CAST(0 AS DOUBLE) + list_reduce(list(v ORDER BY dim),
            (a, b) -> a + b) AS sv,
          CAST(0 AS DOUBLE) + list_reduce(list(v * v ORDER BY dim),
            (a, b) -> a + b) AS sv2
        FROM v)
      SELECT dim, v AS variance, v / sv AS var_share,
        sv * sv / sv2 AS effective_dims
      FROM v, f
      ORDER BY dim"""),
    covers = Seq("SIM-effective-dims"))

  // ------------------------------------------------- winsorize effect
  // What clipping at P1/P99 does to each probe dimension's variance:
  // the winsorized-to-raw variance ratio. Clipped values stay exact
  // integers (least/greatest on quantized longs), so both variances
  // come from exact sums; thresholds broadcast from an 8-row
  // aggregate.
  private val q369 = QueryDef(
    "q369_winsorize_effect",
    (s, dir) => {
      val dims = 0 until 64 by 8
      val e = t(s, dir, "embeddings").select(
        dims.map(d => floor(element_at(col("embedding"), d + 1).cast("double")
          * lit(Q.toDouble)).cast(LongType).as(s"q$d")): _*)
      val long = e.select(explode(array(dims.map(d =>
        struct(lit(d.toLong).as("dim"), col(s"q$d").as("qv"))): _*)).as("p"))
        .select(col("p.dim"), col("p.qv"))
      val th = long.groupBy("dim").agg(
        expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY qv)")
          .cast(LongType).as("p01"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY qv)")
          .cast(LongType).as("p99"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
      val g = long.join(broadcast(th), Seq("dim"))
        .withColumn("wv", least(greatest(col("qv"), col("p01")), col("p99")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("qv")).as("sx"), sum(col("qv") * col("qv")).as("sxx"),
          sum(col("wv")).as("wx"), sum(col("wv") * col("wv")).as("wxx"))
      g.select(col("dim"),
        ((dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
          .cast("double") /
          ((col("n") * col("n")).cast("double") * lit(Q2))).as("raw_var"),
        ((dec(col("n")) * dec(col("wxx")) - dec(col("wx")) * dec(col("wx")))
          .cast("double") /
          ((col("n") * col("n")).cast("double") * lit(Q2))).as("wins_var"),
        ((dec(col("n")) * dec(col("wxx")) - dec(col("wx")) * dec(col("wx")))
          .cast("double") /
          (dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
            .cast("double")).as("var_ratio"))
        .orderBy("dim")
    },
    Some("""WITH dims AS (SELECT unnest([0,8,16,24,32,40,48,56]) AS d),
      lng AS (SELECT CAST(d AS BIGINT) AS dim,
          CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1048576) AS BIGINT)
            AS qv
        FROM embeddings, dims),
      th AS (SELECT dim,
          CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY qv) AS BIGINT)
            AS p01,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY qv) AS BIGINT)
            AS p99
        FROM lng GROUP BY dim),
      w AS (SELECT lng.dim, qv,
          LEAST(GREATEST(qv, p01), p99) AS wv
        FROM lng JOIN th USING (dim)),
      g AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(qv) AS BIGINT) AS sx, CAST(SUM(qv * qv) AS BIGINT) AS sxx,
          CAST(SUM(wv) AS BIGINT) AS wx, CAST(SUM(wv * wv) AS BIGINT) AS wxx
        FROM w GROUP BY dim)
      SELECT dim,
        CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
          / (CAST(n * n AS DOUBLE) * CAST(1099511627776 AS DOUBLE))
          AS raw_var,
        CAST(CAST(n AS HUGEINT) * wxx - CAST(wx AS HUGEINT) * wx AS DOUBLE)
          / (CAST(n * n AS DOUBLE) * CAST(1099511627776 AS DOUBLE))
          AS wins_var,
        CAST(CAST(n AS HUGEINT) * wxx - CAST(wx AS HUGEINT) * wx AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
              AS DOUBLE) AS var_ratio
      FROM g ORDER BY dim"""),
    covers = Seq("SIM-winsorize"))

  // ------------------------------------------------- embedding clip audit
  // Pre-training normalization audit over sampled embedding
  // dimensions: per dim, the 1%/99% percentile_disc of the 2^20
  // fixed-point value and how many vectors an exclusive clip at those
  // bounds would touch — the per-dimension companion to the global
  // magnitude histogram (q279). One explode + one grouped agg with a
  // broadcast threshold join; row count is n_vecs × 16 dims.
  private val q403 = QueryDef(
    "q403_dim_clip_audit",
    (s, dir) => {
      val dims = (0 until 64 by 4).map(_.toLong)
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        explode(expr("transform(sequence(0, 15), " +
          "i -> named_struct('dim', CAST(i * 4 AS BIGINT), " +
          "'q', CAST(floor(CAST(element_at(embedding, i * 4 + 1) AS DOUBLE) " +
          "* 1048576) AS BIGINT)))")).as("p"))
        .select(col("p.dim"), col("p.q"))
      val bounds = e.groupBy("dim")
        .agg(expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY q)")
          .cast(LongType).as("p01"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY q)")
            .cast(LongType).as("p99"))
      e.join(broadcast(bounds), Seq("dim"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_vals"),
          max(col("p01")).as("p01"), max(col("p99")).as("p99"),
          sum(when(col("q") < col("p01") || col("q") > col("p99"), 1L)
            .otherwise(0L)).as("n_clipped"))
        .withColumn("clip_rate",
          col("n_clipped").cast("double") / col("n_vals").cast("double"))
        .orderBy("dim")
    },
    Some("""WITH dims AS (SELECT CAST(unnest(range(0, 64, 4)) AS BIGINT) AS dim),
      e AS (SELECT dim,
          CAST(floor(CAST(embedding[dim + 1] AS DOUBLE) * 1048576)
            AS BIGINT) AS q
        FROM embeddings, dims),
      b AS (SELECT dim,
          CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY q) AS BIGINT) AS p01,
          CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY q) AS BIGINT) AS p99
        FROM e GROUP BY dim)
      SELECT e.dim, CAST(COUNT(*) AS BIGINT) AS n_vals,
        MAX(p01) AS p01, MAX(p99) AS p99,
        CAST(SUM(CASE WHEN q < p01 OR q > p99 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped,
        CAST(SUM(CASE WHEN q < p01 OR q > p99 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS clip_rate
      FROM e JOIN b ON e.dim = b.dim
      GROUP BY e.dim ORDER BY e.dim"""),
    covers = Seq("EMB-clip-audit"))

  // ------------------------------------------------- silhouette
  // Centroid silhouette per label: a = distance to own centroid,
  // b = nearest other centroid, s = (b−a)/max(a,b). Each squared
  // centroid distance is the exact integer Σ_d(n_m·q_d − S_md)² over
  // the common denominator n_m², so distances are one sqrt each and
  // the bin census (s>0.25 / 0≤s≤0.25 / s<0) is exact. The per-label
  // compactness avg_d2_own = Σnum/(n_l³·Q²) is a single division.
  // O(vectors · dims · labels) rows — embarrassingly parallel, no
  // pairwise n² silhouette at 100 TB.
  private val q442 = QueryDef(
    "q442_silhouette",
    (s, dir) => {
      val vd = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
          floor(col("x").cast("double") * lit(Q.toDouble))
            .cast(LongType).as("q"))
      val cent = vd.groupBy(col("label").as("m"), col("dim"))
        .agg(sum("q").as("sq"), count(lit(1)).as("n_m"))
      val num = vd.join(cent, Seq("dim"))
        .withColumn("term",
          dec38(col("n_m") * col("q") - col("sq")) *
            dec38(col("n_m") * col("q") - col("sq")))
        .groupBy("vec_id", "label", "m", "n_m")
        .agg(sum("term").as("num"))
        .withColumn("dist",
          sqrt(col("num").cast("double")) / col("n_m").cast("double"))
      val own = num.filter(col("m") === col("label"))
        .select(col("vec_id"), col("label"), col("dist").as("a"),
          col("num").as("num_own"), col("n_m").as("n_l"))
      val other = num.filter(col("m") =!= col("label"))
        .groupBy("vec_id").agg(min("dist").as("b"))
      val sil = own.join(other, Seq("vec_id"))
        .withColumn("sil",
          (col("b") - col("a")) / greatest(col("a"), col("b")))
      sil.groupBy("label")
        .agg(count(lit(1)).as("n"), max("n_l").as("n_l"),
          sum(when(col("sil") > 0.25, 1L).otherwise(0L)).as("n_strong"),
          sum(when(col("sil") >= 0.0 && col("sil") <= 0.25, 1L)
            .otherwise(0L)).as("n_mid"),
          sum(when(col("sil") < 0.0, 1L).otherwise(0L)).as("n_neg"),
          sum("num_own").as("snum"))
        .select(col("label"), col("n"), col("n_strong"), col("n_mid"),
          col("n_neg"),
          (col("snum").cast("double") /
            ((col("n_l") * col("n_l") * col("n_l")).cast("double") *
              lit((Q * Q).toDouble))).as("avg_d2_own"))
        .orderBy("label")
    },
    Some("""WITH vd AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          i.i AS dim,
          CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
      cent AS (SELECT label AS m, dim, CAST(SUM(q) AS BIGINT) AS sq,
          CAST(COUNT(*) AS BIGINT) AS n_m
        FROM vd GROUP BY 1, 2),
      num AS (SELECT v.vec_id, v.label, c.m, c.n_m,
          SUM(CAST(c.n_m * v.q - c.sq AS HUGEINT) *
              CAST(c.n_m * v.q - c.sq AS HUGEINT)) AS num
        FROM vd v JOIN cent c ON c.dim = v.dim
        GROUP BY 1, 2, 3, 4),
      dist AS (SELECT vec_id, label, m, n_m, num,
          sqrt(CAST(num AS DOUBLE)) / CAST(n_m AS DOUBLE) AS dist
        FROM num),
      own AS (SELECT vec_id, label, dist AS a, num AS num_own,
          n_m AS n_l FROM dist WHERE m = label),
      oth AS (SELECT vec_id, MIN(dist) AS b FROM dist
        WHERE m <> label GROUP BY vec_id),
      sil AS (SELECT o.vec_id, o.label, o.num_own, o.n_l,
          (t.b - o.a) / greatest(o.a, t.b) AS sil
        FROM own o JOIN oth t ON t.vec_id = o.vec_id)
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE sil > 0.25) AS BIGINT) AS n_strong,
        CAST(COUNT(*) FILTER (WHERE sil >= 0.0 AND sil <= 0.25)
          AS BIGINT) AS n_mid,
        CAST(COUNT(*) FILTER (WHERE sil < 0.0) AS BIGINT) AS n_neg,
        CAST(SUM(num_own) AS DOUBLE) /
          (CAST(MAX(n_l) * MAX(n_l) * MAX(n_l) AS DOUBLE) *
            CAST(1048576 AS DOUBLE) * CAST(1048576 AS DOUBLE))
          AS avg_d2_own
      FROM sil GROUP BY label ORDER BY label"""),
    covers = Seq("SIM-silhouette"))

  // ------------------------------------------------- cluster ANOVA
  // Between/within variance decomposition of the embedding space by
  // label — the Calinski-Harabasz ingredients, per label: within
  // ssw_num = Σ_d(n_l·Σq² − S²) and between ssb_num =
  // Σ_d(n·S_ld − n_l·S_d)², both exact DECIMAL(38,0)/HUGEINT
  // bilinears, scaled to doubles by their exact denominators. The
  // separation/compactness ratio per cluster without a single
  // float accumulation.
  private val q443 = QueryDef(
    "q443_cluster_anova",
    (s, dir) => {
      val vd = t(s, dir, "embeddings")
        .select(col("label").cast(LongType).as("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).as("dim"),
          floor(col("x").cast("double") * lit(Q.toDouble))
            .cast(LongType).as("q"))
      val byLab = vd.groupBy("label", "dim")
        .agg(sum("q").as("sl"), sum(col("q") * col("q")).as("sq2"),
          count(lit(1)).as("n_l"))
      val glob = vd.groupBy("dim")
        .agg(sum("q").as("sg"), count(lit(1)).as("n"))
      byLab.join(glob, Seq("dim"))
        .withColumn("ssw_term",
          dec38(col("n_l")) * dec38(col("sq2")) -
            dec38(col("sl")) * dec38(col("sl")))
        .withColumn("ssb_term",
          (dec38(col("n") * col("sl")) - dec38(col("n_l")) * dec38(col("sg"))) *
          (dec38(col("n") * col("sl")) - dec38(col("n_l")) * dec38(col("sg"))))
        .groupBy("label")
        .agg(max("n_l").as("n_l"), max("n").as("n"),
          sum("ssw_term").as("ssw_num"), sum("ssb_term").as("ssb_num"))
        .select(col("label"), col("n_l"),
          (col("ssw_num").cast("double") /
            ((col("n_l").cast("double") * col("n_l").cast("double")) *
              lit((Q * Q).toDouble))).as("ssw"),
          (col("ssb_num").cast("double") /
            ((col("n_l").cast("double") *
              (col("n").cast("double") * col("n").cast("double"))) *
              lit((Q * Q).toDouble))).as("ssb"))
        .withColumn("separation", col("ssb") / col("ssw"))
        .orderBy("label")
    },
    Some("""WITH vd AS (SELECT CAST(label AS BIGINT) AS label,
          i.i AS dim,
          CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i),
      by_lab AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sl,
          CAST(SUM(q * q) AS BIGINT) AS sq2,
          CAST(COUNT(*) AS BIGINT) AS n_l
        FROM vd GROUP BY 1, 2),
      gl AS (SELECT dim, CAST(SUM(q) AS BIGINT) AS sg,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM vd GROUP BY 1),
      terms AS (SELECT b.label, b.n_l, g.n,
          CAST(b.n_l AS HUGEINT) * CAST(b.sq2 AS HUGEINT) -
            CAST(b.sl AS HUGEINT) * CAST(b.sl AS HUGEINT) AS ssw_term,
          (CAST(g.n * b.sl AS HUGEINT) -
            CAST(b.n_l AS HUGEINT) * CAST(g.sg AS HUGEINT)) *
          (CAST(g.n * b.sl AS HUGEINT) -
            CAST(b.n_l AS HUGEINT) * CAST(g.sg AS HUGEINT)) AS ssb_term
        FROM by_lab b JOIN gl g ON g.dim = b.dim),
      agg AS (SELECT label, MAX(n_l) AS n_l, MAX(n) AS n,
          SUM(ssw_term) AS ssw_num, SUM(ssb_term) AS ssb_num
        FROM terms GROUP BY label)
      SELECT label, n_l,
        CAST(ssw_num AS DOUBLE) /
          ((CAST(n_l AS DOUBLE) * CAST(n_l AS DOUBLE)) *
            CAST(1099511627776 AS DOUBLE)) AS ssw,
        CAST(ssb_num AS DOUBLE) /
          ((CAST(n_l AS DOUBLE) *
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) *
            CAST(1099511627776 AS DOUBLE)) AS ssb,
        (CAST(ssb_num AS DOUBLE) /
          ((CAST(n_l AS DOUBLE) *
            (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) *
            CAST(1099511627776 AS DOUBLE))) /
        (CAST(ssw_num AS DOUBLE) /
          ((CAST(n_l AS DOUBLE) * CAST(n_l AS DOUBLE)) *
            CAST(1099511627776 AS DOUBLE))) AS separation
      FROM agg ORDER BY label"""),
    covers = Seq("SIM-cluster-anova"))

  // Top principal component by power iteration: covariance exact on the
  // fixed-point lattice, iteration folds in a pinned order so Spark's
  // driver loop and DuckDB's list_reduce produce bit-identical doubles.

  // ------------------------------------------------- power iteration
  // Top principal axis of the embedding cloud: the 64×64 scaled
  // covariance numerator C = n·Σqq' − (Σq)(Σq)' aggregates exactly
  // (DECIMAL(38,0)/HUGEINT) from one distributed pass; the 4096-cell
  // matrix then runs 8 power iterations. Every fold (matvec, norm,
  // Rayleigh) is a LEFT fold in dim order — Scala reduceLeft on the
  // driver, list_reduce(list(... ORDER BY j)) in DuckDB — so the
  // doubles match bitwise despite 8 rounds of float arithmetic.
  // The 100 TB story: the only corpus-sized stage is the moment
  // aggregation; the iteration is O(d²) driver math.
  private val q462 = QueryDef(
    "q462_power_iteration_pca",
    (s, dir) => {
      val vd = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("vec_id"), col("d"),
          floor(col("x").cast("double") * lit(Q.toDouble))
            .cast(LongType).as("q"))
      val pair = vd.as("a").join(vd.as("b"), Seq("vec_id"))
        .groupBy(col("a.d").as("i"), col("b.d").as("j"))
        .agg(sum(col("a.q") * col("b.q")).as("sij"), count(lit(1)).as("n"))
      val moments = vd.groupBy("d").agg(sum("q").as("sd"))
      val cells = pair
        .join(moments.select(col("d").as("i"), col("sd").as("si")), Seq("i"))
        .join(moments.select(col("d").as("j"), col("sd").as("sj")), Seq("j"))
        .select(col("i"), col("j"),
          (dec38(col("n")) * dec38(col("sij")) -
            dec38(col("si")) * dec38(col("sj"))).cast("double").as("cnum"))
        // bounded-collect: 64x64 covariance cells — O(dim²) model state
        .collect()
      val dDim = 64
      val cov = Array.ofDim[Double](dDim, dDim)
      cells.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      var v = Array.fill(dDim)(0.125)
      var nrm = 0.0
      for (_ <- 1 to 8) {
        val w = Array.tabulate(dDim)(i =>
          (0 until dDim).map(j => cov(i)(j) * v(j)).reduceLeft(_ + _))
        nrm = math.sqrt(w.map(x => x * x).reduceLeft(_ + _))
        v = w.map(_ / nrm)
      }
      import s.implicits._
      v.zipWithIndex
        .map { case (l, d) => (d.toLong, l, nrm) }.toSeq
        .toDF("dim", "loading", "lambda")
        .orderBy("dim")
    },
    Some {
      val iters = (1 to 8).map { k =>
        s"""w$k AS MATERIALIZED (SELECT c.i,
          list_reduce(list(c.cnum * v.v ORDER BY c.j),
            (a, b) -> a + b) AS w
        FROM cells c JOIN v${k - 1} v ON v.i = c.j GROUP BY c.i),
      n$k AS MATERIALIZED (SELECT sqrt(list_reduce(
          list(w * w ORDER BY i), (a, b) -> a + b)) AS nrm FROM w$k),
      v$k AS MATERIALIZED (SELECT i,
          w / (SELECT nrm FROM n$k) AS v FROM w$k)"""
      }.mkString(",\n      ")
      s"""WITH vd AS MATERIALIZED (SELECT vec_id, dd.i - 1 AS d,
          CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd),
      pair AS MATERIALIZED (SELECT a.d AS i, b.d AS j,
          CAST(SUM(a.q * b.q) AS BIGINT) AS sij,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM vd a JOIN vd b ON b.vec_id = a.vec_id
        GROUP BY 1, 2),
      moments AS MATERIALIZED (SELECT d, CAST(SUM(q) AS BIGINT) AS sd
        FROM vd GROUP BY d),
      cells AS MATERIALIZED (SELECT p.i, p.j,
          CAST(CAST(p.n AS HUGEINT) * CAST(p.sij AS HUGEINT) -
            CAST(mi.sd AS HUGEINT) * CAST(mj.sd AS HUGEINT)
            AS DOUBLE) AS cnum
        FROM pair p JOIN moments mi ON mi.d = p.i
        JOIN moments mj ON mj.d = p.j),
      v0 AS (SELECT i, 0.125 AS v FROM (SELECT unnest(range(0, 64))
        AS i)),
      $iters
      SELECT CAST(v8.i AS BIGINT) AS dim, v8.v AS loading,
        (SELECT nrm FROM n8) AS lambda
      FROM v8 ORDER BY dim"""
    },
    covers = Seq("LA-power-iteration"))

  // ------------------------------------------------- anisotropy
  // Embedding-space anisotropy: the top principal value (q462's
  // 8-step power iteration, same pinned folds) over the exact trace
  // of the scaled covariance — the share of variance the dominant
  // direction hoards. The diagnostic behind "all my cosine scores
  // are 0.9": an anisotropic space needs whitening before
  // similarity search means anything.
  private val q470 = QueryDef(
    "q470_embedding_anisotropy",
    (s, dir) => {
      val vd = vdOf(s, dir).localCheckpoint()
      val pair = vd.as("a").join(vd.as("b"), Seq("vec_id"))
        .groupBy(col("a.d").as("i"), col("b.d").as("j"))
        .agg(sum(col("a.q") * col("b.q")).as("sij"), count(lit(1)).as("n"))
      val moments = vd.groupBy("d").agg(sum("q").as("sd"))
      val cells = pair
        .join(moments.select(col("d").as("i"), col("sd").as("si")), Seq("i"))
        .join(moments.select(col("d").as("j"), col("sd").as("sj")), Seq("j"))
        .select(col("i"), col("j"),
          (dec38(col("n")) * dec38(col("sij")) -
            dec38(col("si")) * dec38(col("sj"))).cast("double").as("cnum"))
        // bounded-collect: 64x64 covariance cells — O(dim²) model state
        .collect()
      val dDim = 64
      val cov = Array.ofDim[Double](dDim, dDim)
      cells.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      var v = Array.fill(dDim)(0.125)
      var nrm = 0.0
      for (_ <- 1 to 8) {
        val w = Array.tabulate(dDim)(i =>
          (0 until dDim).map(j => cov(i)(j) * v(j)).reduceLeft(_ + _))
        nrm = math.sqrt(w.map(x => x * x).reduceLeft(_ + _))
        v = w.map(_ / nrm)
      }
      val trace = (0 until dDim).map(i => cov(i)(i)).reduceLeft(_ + _)
      import s.implicits._
      Seq((nrm, trace, nrm / trace))
        .toDF("lambda1", "trace", "anisotropy")
    },
    Some {
      val iters = (1 to 8).map { k =>
        s"""w$k AS MATERIALIZED (SELECT c.i,
          list_reduce(list(c.cnum * v.v ORDER BY c.j),
            (a, b) -> a + b) AS w
        FROM cells c JOIN v${k - 1} v ON v.i = c.j GROUP BY c.i),
      n$k AS MATERIALIZED (SELECT sqrt(list_reduce(
          list(w * w ORDER BY i), (a, b) -> a + b)) AS nrm FROM w$k),
      v$k AS MATERIALIZED (SELECT i,
          w / (SELECT nrm FROM n$k) AS v FROM w$k)"""
      }.mkString(",\n      ")
      s"""WITH $vdSql,
      pair AS MATERIALIZED (SELECT a.d AS i, b.d AS j,
          CAST(SUM(a.q * b.q) AS BIGINT) AS sij,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM vd a JOIN vd b ON b.vec_id = a.vec_id GROUP BY 1, 2),
      moments AS MATERIALIZED (SELECT d, CAST(SUM(q) AS BIGINT) AS sd
        FROM vd GROUP BY d),
      cells AS MATERIALIZED (SELECT p.i, p.j,
          CAST(CAST(p.n AS HUGEINT) * CAST(p.sij AS HUGEINT) -
            CAST(mi.sd AS HUGEINT) * CAST(mj.sd AS HUGEINT)
            AS DOUBLE) AS cnum
        FROM pair p JOIN moments mi ON mi.d = p.i
        JOIN moments mj ON mj.d = p.j),
      v0 AS (SELECT i, 0.125 AS v FROM (SELECT unnest(range(0, 64))
        AS i)),
      $iters,
      tr AS (SELECT list_reduce(list(cnum ORDER BY i), (a, b) -> a + b)
          AS trace
        FROM cells WHERE i = j)
      SELECT (SELECT nrm FROM n8) AS lambda1, tr.trace,
        (SELECT nrm FROM n8) / tr.trace AS anisotropy
      FROM tr"""
    },
    covers = Seq("LA-anisotropy"))

  // ------------------------------------------------- coreset
  // Farthest-point (k-center greedy) coreset: 8 centers over the
  // first 500 vectors, starting from the minimum id; each stage
  // picks the point maximizing its min-distance to the chosen set
  // (exact lattice integers, ties → id) and records the covering
  // radius. Runs on collected fixed-point vectors (the pool is the
  // SAMPLE; at corpus scale the pool arrives via q100-style
  // weighted sampling); oracle = 8 unrolled argmax stages.
  private val q490 = QueryDef(
    "q490_farthest_point_coreset",
    (s, dir) => {
      val rows = t(s, dir, "embeddings")
        .filter(col("vec_id") < SamplePools.CoresetPool)
        .select(col("vec_id"),
          expr(s"transform(embedding, x -> " +
            s"CAST(floor(CAST(x AS DOUBLE) * ${Q}.0) AS BIGINT))")
            .as("qs"))
        // bounded-collect: SamplePools.CoresetPool rows — the pool IS
        // the sample (q100 sampler at corpus scale), never the corpus
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
        .sortBy(_._1)
      def d2(a: Array[Long], b: Array[Long]): Long = {
        var i = 0; var acc = 0L
        while (i < a.length) {
          val df = a(i) - b(i); acc += df * df; i += 1
        }
        acc
      }
      val ids = rows.map(_._1)
      val vecs = rows.map(_._2)
      val n = ids.length
      var centers = List(0) // index of min id (rows sorted by id)
      val md = Array.tabulate(n)(i => d2(vecs(i), vecs(0)))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      out += ((1L, ids(0), md.max))
      for (k <- 2 to 8) {
        var bi = 0
        for (i <- 1 until n)
          if (md(i) > md(bi) || (md(i) == md(bi) && ids(i) < ids(bi))) bi = i
        val c = bi
        centers = c :: centers
        for (i <- 0 until n) md(i) = math.min(md(i), d2(vecs(i), vecs(c)))
        out += ((k.toLong, ids(c), md.max))
      }
      import s.implicits._
      out.toSeq.toDF("stage", "center", "radius_num")
        .select(col("stage"), col("center"),
          (col("radius_num").cast("double") / lit((Q * Q).toDouble))
            .as("cover_radius_sq"))
        .orderBy("stage")
    },
    Some {
      val stages = (2 to 8).map { k =>
        s"""p$k AS MATERIALIZED (SELECT vec_id FROM md${k - 1}
        ORDER BY md DESC, vec_id LIMIT 1),
      md$k AS MATERIALIZED (SELECT m.vec_id,
          LEAST(m.md, dd.d2) AS md
        FROM md${k - 1} m JOIN (SELECT v.vec_id,
            CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
          FROM vd v JOIN vd c ON c.d = v.d
            AND c.vec_id = (SELECT vec_id FROM p$k)
          GROUP BY v.vec_id) dd ON dd.vec_id = m.vec_id)"""
      }.mkString(",\n      ")
      val outs = (1 to 8).map { k =>
        val ctr = if (k == 1) "(SELECT vec_id FROM p1)"
          else s"(SELECT vec_id FROM p$k)"
        s"""SELECT $k AS stage, $ctr AS center,
        (SELECT CAST(MAX(md) AS DOUBLE) / (1048576.0 * 1048576.0)
          FROM md$k) AS cover_radius_sq"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH vd AS MATERIALIZED (SELECT vec_id, dd.i - 1 AS d,
          CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd
        WHERE vec_id < 500),
      p1 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id FROM vd),
      md1 AS MATERIALIZED (SELECT v.vec_id,
          CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS md
        FROM vd v JOIN vd c ON c.d = v.d
          AND c.vec_id = (SELECT vec_id FROM p1)
        GROUP BY v.vec_id),
      $stages
      SELECT CAST(stage AS BIGINT) AS stage,
        CAST(center AS BIGINT) AS center, cover_radius_sq
      FROM ($outs) ORDER BY stage"""
    },
    covers = Seq("SIM-coreset"))

  // ------------------------------------------------- kNN homophily
  // Label homophily of the embedding kNN graph: among each query's 5
  // nearest neighbors (exact-lattice cosine, first 100 queries), the
  // same-label edge share — overall and per label. The
  // graph-structure twin of q487's MRR: high MRR with low homophily
  // means the first hit is lucky, not structural.
  private val q512 = QueryDef(
    "q512_knn_homophily",
    (s, dir) => {
      // identical quantization (Q), query set, and ranking to
      // q487/q488 — consume the session-cached shared frame
      val knn = MlGates.ranked(s, dir).filter(col("rnk") <= 5)
      knn.groupBy("lq")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("lq") === col("lb"), 1L).otherwise(0L))
            .as("n_same"))
        .select(col("lq").as("label"), col("n_edges"), col("n_same"),
          (col("n_same").cast("double") / col("n_edges").cast("double"))
            .as("homophily"))
        .orderBy("label")
    },
    Some("""WITH vd AS MATERIALIZED (SELECT vec_id,
          CAST(label AS BIGINT) AS label, dd.i - 1 AS d,
          CAST(floor(CAST(embedding[dd.i] AS DOUBLE) * 1048576.0)
            AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) dd),
      norms AS MATERIALIZED (SELECT vec_id,
          CAST(SUM(q * q) AS BIGINT) AS n2 FROM vd GROUP BY 1),
      dots AS MATERIALIZED (SELECT a.vec_id AS qa, a.label AS lq,
          b.vec_id AS vb, b.label AS lb,
          CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        FROM vd a JOIN vd b ON b.d = a.d AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 100 GROUP BY 1, 2, 3, 4),
      knn AS (SELECT qa, lq, lb FROM (SELECT d.qa, d.lq, d.lb,
          row_number() OVER (PARTITION BY d.qa ORDER BY
            CAST(d.dot AS DOUBLE) /
              (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            DESC, d.vb) AS rnk
        FROM dots d JOIN norms na ON na.vec_id = d.qa
        JOIN norms nb ON nb.vec_id = d.vb) WHERE rnk <= 5)
      SELECT lq AS label, CAST(COUNT(*) AS BIGINT) AS n_edges,
        CAST(COUNT(*) FILTER (WHERE lq = lb) AS BIGINT) AS n_same,
        CAST(COUNT(*) FILTER (WHERE lq = lb) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE) AS homophily
      FROM knn GROUP BY lq ORDER BY label"""),
    covers = Seq("SIM-knn-homophily"))

  // Hash oracles for the deterministic half of the two ANN recall gates
  // (q45 IVF, q106 PQ). Their k-means indexes cannot have a SQL oracle, but
  // their brute-force recall BASELINES are plain cosine top-k — these
  // siblings run the exact same [[AnnBaseline]] code path the recall floors
  // consume and hash-compare it against DuckDB, so the floors measure the
  // indexes against a proven baseline (see AnnBaseline's scaladoc).

  // ------------------------------------------- q45's baseline, hashed
  private val q45b = QueryDef(
    "q45b_ivf_bf_baseline",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val queries = AnnBaseline.queryPool(emb, stride = 50L)
      AnnBaseline.bruteForceTopK(emb, queries, k = 3, rankName = "bf_rk")
        .orderBy("q_id", "bf_rk")
    },
    Some(AnnBaseline.oracleSql(stride = 50L, k = 3, rankName = "bf_rk")),
    covers = Seq("SIM-ivf"))

  // ------------------------------------------ q106's baseline, hashed
  private val q106b = QueryDef(
    "q106b_pq_bf_baseline",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
      val queries = AnnBaseline.queryPool(emb, stride = 100L)
      AnnBaseline.bruteForceTopK(emb, queries, k = 5, rankName = "bf_rk")
        .orderBy("q_id", "bf_rk")
    },
    Some(AnnBaseline.oracleSql(stride = 100L, k = 5, rankName = "bf_rk")),
    covers = Seq("T-ann-pq"))

  val all: Seq[QueryDef] = Seq(q29, q30, q45, q55, q91, q106, q166, q177,
    q186, q194, q232, q262, q265, q304, q307, q330, q344, q350, q353, q369,
    q403, q442, q443, q462, q470, q490, q512, q45b, q106b)
}
