package graft.queries

import graft.similarity.{PqIndex, TrainedModels}

/** DuckDB oracle SQL for the ANN gates q45/q106, generated at
  * Verify-dump time with the trained model inlined as SQL literals.
  *
  * k-means itself has no SQL twin, but the trained model is a pure
  * (deterministic) function of the data — so the oracle takes the
  * model AS INPUT (a `VALUES` literal table, the same way the Spark
  * side ships it into expressions as array literals) and re-derives
  * everything downstream of training independently in SQL: cluster
  * assignment, probe selection, PQ encoding, ADC scoring, exact
  * refine, the brute-force baseline, and the recall columns. Both
  * sides read the model from the one per-JVM training run
  * ([[graft.similarity.TrainedModels]]), so training's ulp-level
  * accumulation-order jitter cannot split them.
  *
  * Float discipline (same rules the proven q29/q45b/q106b oracles
  * established): every fold that Spark evaluates sequentially maps to
  * `list_sum(list_transform(...))` (DuckDB folds lists left-to-right,
  * proven bit-identical by those gates); sums that Spark evaluates in
  * subspace order map to `list_sum(list(x ORDER BY j))`, never a bare
  * SUM whose accumulation order is unspecified; model-derived
  * constants that Spark computes driver-side (PQ cell norms) are
  * inlined as literals rather than recomputed.
  */
object AnnModelOracle {

  /** Shortest round-trip literal for a double (java.lang.Double
    * .toString parses back to the identical bits in DuckDB; verified
    * incl. E-notation). -0.0 normalizes to 0.0 — DuckDB drops the
    * sign, and no downstream expression distinguishes them.
    */
  private[queries] def dlit(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite model value $d")
    if (d == 0.0) "0.0" else d.toString
  }

  private def arr(xs: Seq[Double]): String =
    xs.map(dlit).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** The q29-proven exact cosine between two float-list columns —
    * identical IEEE fold order to
    * [[graft.functions.CosineSimilarity]].
    */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        (sqrt(list_sum(list_transform(list_zip($a, $a),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) *
         sqrt(list_sum(list_transform(list_zip($b, $b),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))))"""

  /** Squared L2 between a float-list column and a double-list column
    * — identical fold order to IvfIndex.sqDist and the
    * NearestCentroids inner loop (sequential += of (x-y)²).
    */
  private def sqDistSql(v: String, c: String): String =
    s"""list_sum(list_transform(list_zip($v, $c),
          x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))"""

  private def poolSql(stride: Long): String = {
    val cap = stride * SamplePools.AnnQueryPool
    s"""SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id % $stride = 0 AND vec_id < $cap"""
  }

  /** Oracle for q45_ivf_ann: IVF probe/search with the centroid model
    * inlined, in-query brute-force top-k baseline, recall@k column.
    * Mirrors SimilarityGates.q45 stage for stage.
    */
  def ivfSql(
      model: TrainedModels.IvfModel,
      stride: Long,
      nprobe: Int,
      topK: Int): String = {
    val cents = model
      .map { case (cid, c) => s"($cid, ${arr(c)})" }
      .mkString(",\n      ")
    s"""WITH cents(cid, centroid) AS (VALUES
      $cents),
      q AS (${poolSql(stride)}),
      probes AS (
        SELECT q_id, q_emb, cid FROM (
          SELECT q.q_id, q.q_emb, c.cid, ROW_NUMBER() OVER (
              PARTITION BY q.q_id
              ORDER BY ${sqDistSql("q.q_emb", "c.centroid")} ASC, c.cid) AS pr
          FROM q CROSS JOIN cents c) WHERE pr <= $nprobe),
      assigned AS (
        SELECT vec_id, n_emb, cid FROM (
          SELECT e.vec_id, e.embedding AS n_emb, c.cid, ROW_NUMBER() OVER (
              PARTITION BY e.vec_id
              ORDER BY ${sqDistSql("e.embedding", "c.centroid")} ASC, c.cid) AS ar
          FROM embeddings e CROSS JOIN cents c) WHERE ar = 1),
      scored AS (
        SELECT p.q_id, a.vec_id AS n_id, ${cosSql("p.q_emb", "a.n_emb")} AS cos
        FROM probes p JOIN assigned a USING (cid) WHERE p.q_id <> a.vec_id),
      ivf AS (SELECT * FROM (
          SELECT q_id, n_id, cos, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM scored)
        WHERE rk <= $topK),
      bf AS (SELECT * FROM (
          SELECT q.q_id, e.vec_id AS n_id, ROW_NUMBER() OVER (
              PARTITION BY q.q_id
              ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS br
          FROM embeddings e CROSS JOIN q WHERE q.q_id <> e.vec_id)
        WHERE br <= $topK),
      recall AS (
        SELECT i.q_id,
          CAST(SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / $topK.0 AS recall$topK
        FROM ivf i LEFT JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id
        GROUP BY i.q_id)
      SELECT i.q_id, i.rk, i.n_id, i.cos, r.recall$topK
      FROM ivf i JOIN recall r ON i.q_id = r.q_id
      ORDER BY i.q_id, i.rk"""
  }

  /** Oracle for q106_pq_ann: PQ encode + ADC candidate generation +
    * exact refine with the codebook inlined, brute-force baseline,
    * recall@k column. Mirrors SimilarityGates.q106 stage for stage.
    */
  def pqSql(
      book: PqIndex.Codebook,
      stride: Long,
      refine: Int,
      topK: Int): String = {
    val m = book.size
    val subDim = book.head.head.size
    // (j, cid, centroid, |centroid|²) — norm² computed driver-side
    // exactly as PqIndex.encode's cellNormSq literal (sequential
    // Scala fold), inlined so SQL never re-derives it
    val cells = (for {
      j <- 0 until m
      (cent, cid) <- book(j).zipWithIndex
    } yield s"($j, $cid, ${arr(cent)}, ${dlit(cent.map(x => x * x).sum)})")
      .mkString(",\n      ")
    // 1-based inclusive DuckDB slice of subspace j of a full vector
    def sub(vec: String): String =
      s"$vec[cb.j*$subDim+1 : cb.j*$subDim+$subDim]"
    s"""WITH cb(j, cid, cent, norm2) AS (VALUES
      $cells),
      q AS (${poolSql(stride)}),
      codes AS (
        SELECT vec_id, j, cid, norm2 FROM (
          SELECT e.vec_id, cb.j, cb.cid, cb.norm2, ROW_NUMBER() OVER (
              PARTITION BY e.vec_id, cb.j
              ORDER BY ${sqDistSql(sub("e.embedding"), "cb.cent")} ASC, cb.cid) AS rn
          FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
      rnorm AS (
        SELECT vec_id, sqrt(list_sum(list(norm2 ORDER BY j))) AS recon_norm
        FROM codes GROUP BY vec_id),
      lut AS (
        SELECT q.q_id, cb.j, cb.cid,
          list_sum(list_transform(list_zip(${sub("q.q_emb")}, cb.cent),
            x -> CAST(x[1] AS DOUBLE) * x[2])) AS dp
        FROM q CROSS JOIN cb),
      qn AS (
        SELECT q_id, sqrt(list_sum(list_transform(q_emb,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS q_norm
        FROM q),
      adc AS (
        SELECT l.q_id, c.vec_id AS n_id, list_sum(list(l.dp ORDER BY l.j)) AS dots
        FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
        WHERE l.q_id <> c.vec_id
        GROUP BY l.q_id, c.vec_id),
      cand AS (
        SELECT q_id, n_id FROM (
          SELECT a.q_id, a.n_id, ROW_NUMBER() OVER (PARTITION BY a.q_id
              ORDER BY a.dots / (qn.q_norm * r.recon_norm) DESC, a.n_id) AS cr
          FROM adc a JOIN qn ON a.q_id = qn.q_id
                     JOIN rnorm r ON a.n_id = r.vec_id)
        WHERE cr <= $refine),
      refined AS (SELECT * FROM (
          SELECT c.q_id, c.n_id, ${cosSql("q.q_emb", "e.embedding")} AS cos,
            ROW_NUMBER() OVER (PARTITION BY c.q_id
              ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, c.n_id) AS rk
          FROM cand c JOIN embeddings e ON c.n_id = e.vec_id
                      JOIN q ON c.q_id = q.q_id)
        WHERE rk <= $topK),
      bf AS (SELECT * FROM (
          SELECT q.q_id, e.vec_id AS n_id, ROW_NUMBER() OVER (
              PARTITION BY q.q_id
              ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS br
          FROM embeddings e CROSS JOIN q WHERE q.q_id <> e.vec_id)
        WHERE br <= $topK),
      recall AS (
        SELECT i.q_id,
          CAST(SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / $topK.0 AS recall$topK
        FROM refined i LEFT JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id
        GROUP BY i.q_id)
      SELECT i.q_id, i.rk, i.n_id, i.cos, r.recall$topK
      FROM refined i JOIN recall r ON i.q_id = r.q_id
      ORDER BY i.q_id, i.rk"""
  }
}
