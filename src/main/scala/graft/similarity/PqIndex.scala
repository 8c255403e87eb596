package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) compressed ANN index.
  *
  * IVF ([[IvfIndex]]) prunes WHICH vectors a query scans; PQ shrinks
  * WHAT is scanned: each vector is cut into `m` subvectors and every
  * subvector is replaced by the id of its nearest per-subspace
  * centroid — 64 floats (256 B) become `m` small ints (`m` bytes on
  * disk), a 32× compression that turns a 100 TB embedding corpus into
  * ~3 TB of codes that fit the page cache of a modest cluster.
  * Queries score codes asymmetrically (ADC): one lookup table of
  * query-to-centroid dot products per subspace, then a score is `m`
  * array lookups + adds instead of a `dim`-wide float dot product.
  *
  * Spark-first shape, mirroring IvfIndex: the codebook (m × k × dim/m
  * doubles) is a driver-side model shipped into expressions as array
  * literals, so TRAIN is one scan + tiny agg per Lloyd iteration (all
  * subspaces learned in the same pass via a posexplode over
  * subvectors), ENCODE is a narrow projection, and SEARCH is
  * broadcast(queries+LUTs) × codes with a bounded-heap top-k
  * ([[graft.plans.TopKPerKey]]) — the corpus never shuffles.
  *
  * Deterministic like IvfIndex (init from lowest-id rows, ties break
  * to the lowest centroid id, exact mean updates), so tests and the
  * `q106_pq_ann` gate are stable run-to-run.
  */
object PqIndex {

  /** 1-based inclusive slice of subspace `j` (0-based) of `vecCol`. */
  private def sub(vec: Column, j: Int, subDim: Int): Column =
    slice(vec, j * subDim + 1, subDim)

  private def dot(v: Column, c: Column): Column =
    aggregate(
      zip_with(v, c, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  /** Codebook: for subspace `j`, `model(j)` is the cid-ordered list of
    * `k` centroids (each `dim/m` doubles).
    */
  type Codebook = Seq[Seq[Seq[Double]]]

  /** All m per-subspace nearest-centroid ids in ONE codegen'd pass
    * ([[graft.functions.NearestCentroids]]; ties → lowest cid) — the
    * encode/train hot loop, bit-identical to the interpreted
    * HOF form it replaced but fused into whole-stage codegen.
    */
  private def allCodes(vec: Column, book: Codebook): Column =
    graft.functions.NearestCentroids(vec, book)

  /** Train `k` centroids per subspace with `iters` Lloyd iterations —
    * every iteration is ONE corpus scan (subspaces in parallel via
    * posexplode) + one (m × k)-row aggregate.
    */
  def train(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int): Codebook = {
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m

    // init: subvectors of the k lowest-id rows
    // bounded-collect: limit(k) — exactly k seed vectors (model-sized)
    val seed = emb.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    var book: Codebook =
      (0 until m).map(j => seed.toSeq.map(v => v.slice(j * subDim, (j + 1) * subDim)))

    for (_ <- 1 to iters) {
      // (j, cid, subvector) rows for every subspace of every vector —
      // codes for ALL subspaces come from one fused expression pass
      val assigned = emb
        .select(col(vecCol), allCodes(col(vecCol), book).as("__codes"))
        .select(posexplode(array(
          (0 until m).map { j =>
            struct(element_at(col("__codes"), j + 1).as("cid"),
              sub(col(vecCol), j, subDim).as("sv"))
          }: _*)).as(Seq("j", "a")))
      val means = (1 to subDim).map(i =>
        avg(element_at(col("a.sv"), i).cast("double")).as(s"m$i"))
      // bounded-collect: grouped agg over (j, cid) — at most m·k
      // codebook cells (O(model)), never corpus rows
      val rows = assigned
        .groupBy(col("j"), col("a.cid").as("cid"))
        .agg(means.head, means.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (2 until 2 + subDim).map(r.getDouble).toSeq)
        .toMap
      // empty cells keep their previous centroid (standard Lloyd's)
      book = (0 until m).map(j =>
        (0 until k).map(c => rows.getOrElse((j, c), book(j)(c))))
    }
    book
  }

  /** Encode the corpus: `codes` = per-subspace centroid ids, plus the
    * reconstruction's L2 norm (needed to turn ADC dot products into
    * approximate cosines). Narrow — the 32×-smaller code table is what
    * search scans.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String, book: Codebook): DataFrame = {
    val codes = allCodes(col(vecCol), book)
    // |reconstruction|² = Σ_j |centroid_{j,code_j}|² (norms per cell
    // are a model-side literal; the lookup is m element_ats)
    val cellNormSq = typedLit(book.map(_.map(c => c.map(x => x * x).sum)))
    val normSq = aggregate(
      zip_with(cellNormSq, col("codes"), (norms, c) => element_at(norms, c + 1)),
      lit(0.0), (acc, x) => acc + x)
    emb.select(col(idCol), codes.as("codes"))
      .select(col(idCol), col("codes"), sqrt(normSq).as("recon_norm"))
  }

  /** Top-`topK` approximate-cosine neighbours per query over the
    * encoded corpus. Each query precomputes its LUT (m × k
    * query·centroid dot products) in a narrow projection; scoring a
    * corpus row is then m lookups — no float vectors are read at all.
    */
  /** Queries with their ADC lookup tables: (q_id, lut, q_norm) where
    * lut(j)(c) = dot(q_j, centroid_{j,c}) — the per-query narrow
    * projection both search paths broadcast.
    */
  private[similarity] def queryLut(queries: DataFrame, book: Codebook): DataFrame = {
    val m = book.size
    val subDim = book.head.head.size
    val lut = array((0 until m).map(j =>
      transform(typedLit(book(j)), c => dot(sub(col("q_emb"), j, subDim), c))): _*)
    val qNorm = sqrt(aggregate(
      transform(col("q_emb"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    queries.select(col("q_id"), lut.as("lut"), qNorm.as("q_norm"))
  }

  /** Approximate cosine from a joined (lut, q_norm, codes, recon_norm)
    * row: m table lookups + adds, no float vectors touched.
    */
  private[similarity] def adcCos: Column =
    aggregate(
      zip_with(col("lut"), col("codes"), (l, c) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x) / (col("q_norm") * col("recon_norm"))

  def search(
      codes: DataFrame,      // (idCol, codes, recon_norm) from encode
      queries: DataFrame,    // (q_id, q_emb)
      book: Codebook,
      idCol: String,
      topK: Int): DataFrame = {
    val scored = broadcast(queryLut(queries, book)).crossJoin(codes)
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"), adcCos.as("pq_cos"))
    graft.plans.TopKPerKey.perKey(scored, Seq("q_id"),
      Seq(desc("pq_cos"), asc("n_id")), topK, rankName = "rk")
  }

  /** PQ-then-refine: ADC generates `refine` candidates per query from
    * the compressed codes, then ONLY those rows' float vectors are
    * fetched for an exact cosine re-rank to `topK`. This is the
    * production PQ shape — the quantization error that costs recall in
    * pure ADC ranking washes out once the short candidate list is
    * re-scored exactly, and the full-precision corpus is touched for
    * `refine × queries` rows instead of all of it.
    */
  def searchRefined(
      codes: DataFrame,
      emb: DataFrame,        // original (idCol, vecCol) vectors
      queries: DataFrame,
      book: Codebook,
      idCol: String,
      vecCol: String,
      topK: Int,
      refine: Int): DataFrame = {
    val cand = search(codes, queries, book, idCol, refine)
      .select(col("q_id"), col("n_id"))
    val exact = cand
      .join(emb.select(col(idCol).as("n_id"), col(vecCol).as("__v")), "n_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("n_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("__v")).as("cos"))
    graft.plans.TopKPerKey.perKey(exact, Seq("q_id"),
      Seq(desc("cos"), asc("n_id")), topK, rankName = "rk")
  }
}

/** IVF-PQ: the two ANN scale levers composed — IVF cluster pruning
  * decides WHICH partitions a query reads (`nprobe/k` of the corpus),
  * PQ code compression decides WHAT is read there (codes, 32× smaller
  * than vectors), and the exact refine re-scores only the short
  * candidate list at full precision. This is the standard
  * billion-scale ANN layout: partition the code table by `cid` on
  * disk, and a query touches a few partitions of a table that fits in
  * page cache.
  */
object IvfPq {

  /** Build: IVF centroids + cluster assignment + PQ codes, returned as
    * (assignment with codes, centroids, codebook).
    */
  def build(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      ivfIters: Int,
      m: Int,
      k: Int,
      pqIters: Int): (DataFrame, DataFrame, PqIndex.Codebook) = {
    val cents = IvfIndex.trainCentroids(emb, idCol, vecCol, nClusters, ivfIters)
    val assigned = IvfIndex.assign(emb, cents, idCol, vecCol)
    val book = PqIndex.train(emb, idCol, vecCol, m, k, pqIters)
    val codes = PqIndex.encode(emb, idCol, vecCol, book)
      .join(assigned.select(col(idCol), col("cid")), idCol)
    (codes, cents, book)
  }

  /** Search: probe each query's `nprobe` nearest clusters, ADC-score
    * only those clusters' codes, exact-refine the top `refine` to
    * `topK`.
    */
  def search(
      codes: DataFrame,      // (idCol, codes, recon_norm, cid) from build
      cents: DataFrame,
      emb: DataFrame,
      book: PqIndex.Codebook,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      topK: Int,
      refine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nearest nprobe clusters per query (tiny crossJoin vs centroids)
    val sq = (v: Column, c: Column) => aggregate(
      zip_with(v, c, (x, y) => { val d = x.cast("double") - y; d * d }),
      lit(0.0), (acc, x) => acc + x)
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("d", sq(col("q_emb"), col("centroid")))
      .withColumn("pr", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy("q_id").orderBy("d", "cid")))
      .filter(col("pr") <= nprobe)
      .select("q_id", "cid")
    // ADC over the probed clusters only: a code row is scored once per
    // query probing its cluster (cid is unique per doc, so no
    // duplicate (q, doc) pairs), with the query LUTs broadcast
    val scored = codes.join(broadcast(probes), Seq("cid"))
      .join(broadcast(PqIndex.queryLut(queries, book)), Seq("q_id"))
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"), PqIndex.adcCos.as("pq_cos"))
    val cand = graft.plans.TopKPerKey.perKey(scored, Seq("q_id"),
        Seq(desc("pq_cos"), asc("n_id")), refine, rankName = "rk")
      .select("q_id", "n_id")
    val exact = cand
      .join(emb.select(col(idCol).as("n_id"), col(vecCol).as("__v")), "n_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("n_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("__v")).as("cos"))
    graft.plans.TopKPerKey.perKey(exact, Seq("q_id"),
      Seq(desc("cos"), asc("n_id")), topK, rankName = "rk")
  }
}
