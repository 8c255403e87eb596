package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Persistent MinHash-LSH band index for INCREMENTAL near-duplicate
  * detection: each ingested batch is checked against the whole indexed
  * corpus by joining band keys — the corpus is never re-paired with
  * itself. This is the only dedup shape that survives a 100 TB corpus
  * with daily ingest: per batch the work is
  * O(batch bands + matched buckets), not O(corpus²) and not even
  * O(corpus) re-hashing.
  *
  * Band construction matches the gate-verified q23 pipeline (3-word
  * shingles → [[graft.functions.MinHashSignature]] → banded md5 keys),
  * so index hits have the same candidate semantics the oracle proved;
  * the stateless core ([[LshIndex.candidatePairs]]) is itself
  * oracle-gated as `q93_lsh_incremental`. Verify candidates with exact
  * Jaccard (q47's pattern) before deleting anything.
  */
final class LshIndex(
    store: TableStore,
    table: String = "lsh_bands",
    nHashes: Int = 8,
    bandSize: Int = 2,
    compactAboveFiles: Int = 256) {
  require(nHashes % bandSize == 0, "nHashes must be a multiple of bandSize")
  require(compactAboveFiles >= 1, "compactAboveFiles must be positive")

  /** (doc_id, bkey) band rows for a batch of (doc_id, text) docs. */
  def bands(docs: DataFrame): DataFrame = LshIndex.bands(docs, nHashes, bandSize)

  /** Near-dup candidate pairs for a new batch: batch-vs-index plus
    * batch-internal, as (doc_a < doc_b, shared_bands). Existing
    * index pairs are NOT re-emitted.
    */
  def candidates(newDocs: DataFrame): DataFrame = {
    // reused by two joins; without materialization the whole
    // shingle+minhash stage would run twice
    val nb = bands(newDocs).localCheckpoint()
    LshIndex.candidatePairs(nb, store.read(table))
  }

  /** Index the batch: append bands for doc ids not yet present
    * ([[TableStore.appendNewKeys]]).
    *
    * Each append lands one parquet file-set; a long-running admission
    * pipeline would otherwise accumulate small files forever (per-file
    * open/footer cost eventually dominating the candidate join's index
    * scan), so once the table's file count exceeds `compactAboveFiles`
    * the append triggers [[TableStore.compact]] — a row-preserving
    * rewrite committed as one new table version, so a reader never
    * observes a partial index and re-running is a no-op.
    *
    * SINGLE-WRITER contract: the whole add (dedup anti-join → append →
    * fileCount/compact check-then-act) is `synchronized` on this
    * instance, so concurrent adds through ONE index serialize — the
    * same single-flight discipline as the q205 fixture write; without
    * it two adds could double-insert a shared doc's bands (both
    * anti-join against the pre-append index) or interleave an append
    * with the compaction's commit. Adds through SEPARATE instances
    * that overlap cannot both land: the store commits the first and
    * the other fails (one admission pipeline per table).
    */
  def add(newDocs: DataFrame): Unit = this.synchronized {
    store.appendNewKeys(table, bands(newDocs), "doc_id")
    if (store.fileCount(table) > compactAboveFiles) store.compact(table)
  }
}

object LshIndex {

  /** (doc_id, bkey) band rows for (doc_id, text) docs — the q23
    * construction: 3-word shingles → nHashes-wide MinHash signature →
    * one md5 key per band of bandSize signature slots.
    */
  def bands(docs: DataFrame, nHashes: Int = 8, bandSize: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    bandsFromPostings(docs.select(col("doc_id"),
      explode(graft.functions.WordShingles(col("text"), 3)).as("s")),
      nHashes, bandSize)
  }

  /** Band rows from prebuilt shingle postings (doc_id, s) — the same
    * construction for callers that already materialized the postings
    * (e.g. [[graft.pipelines.CorpusCuration]]'s near-dup stage, whose
    * shingles also feed the exact verification). Duplicate shingles
    * are harmless: MinHash minima ignore multiplicity.
    */
  def bandsFromPostings(
      sh: DataFrame, nHashes: Int = 8, bandSize: Int = 2): DataFrame = {
    require(nHashes % bandSize == 0, "nHashes must be a multiple of bandSize")
    val sig = sh.groupBy("doc_id")
      .agg(graft.functions.MinHashSignature(col("s"), nHashes).as("sig"))
      .select(col("doc_id") +:
        (0 until nHashes).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
    val bandCols = (0 until nHashes / bandSize).map { b =>
      val parts = (0 until bandSize).map(k => col(s"h${b * bandSize + k}"))
      md5(concat(lit(s"band$b:") +: parts: _*))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bkey"))
  }

  /** Stateless incremental-candidate core: pairs for new-batch bands
    * `nb` against an optional corpus band index, batch-internal plus
    * batch-vs-index, normalized to doc_a < doc_b with a shared-band
    * count. Index-internal pairs are never produced — the corpus does
    * not re-pair with itself.
    */
  def candidatePairs(nb: DataFrame, index: Option[DataFrame]): DataFrame = {
    val internal = nb.as("a").join(nb.as("b"),
      col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val all = index match {
      case None => internal
      case Some(idx0) =>
        // docs present in both the batch and the index (re-ingest)
        // pair via `internal` only — otherwise their shared_bands
        // would double-count
        val idx = idx0.join(nb.select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
        // normalized order: pairs are undirected
        val vsIndex = nb.as("a").join(idx.as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc_id") =!= col("b.doc_id"))
          .select(
            least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        internal.unionByName(vsIndex)
    }
    all.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_bands"))
  }
}
