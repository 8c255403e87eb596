package graft.store

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.dedup.BloomDedup

/** Incrementally-admitted deduplicated corpus: each
  * `admit(batchId, batch)` appends only documents whose `keyCol` was
  * never seen before — across batches and within the batch — with
  * crash-safe exactly-once semantics.
  *
  * State is three parts of one table, written by ONE
  * [[TableStore.commit]] (the same commit as [[AggTable]]'s):
  *   - `docs`   — the admitted corpus;
  *   - `bloom`  — a serialized bloom filter over every admitted key,
  *     MERGED incrementally (OR of filters = filter of the union), so
  *     membership of the whole corpus is testable without scanning it;
  *   - `ledger` — applied batch ids (replays are no-ops).
  *
  * At 100 TB the bloom filter is what keeps admission O(batch): a
  * batch row that the filter rejects is DEFINITELY new and never joins
  * the corpus; only possible members take the exact verify anti-join
  * ([[BloomDedup]]). The filter is sized once (`expectedItems`) — as
  * the corpus approaches that size the fpp degrades gracefully and
  * only the verify-join fraction grows, never correctness.
  *
  * The streaming form is `foreachBatch` over this method with the
  * engine's replay-stable batch ids: a replayed micro-batch is already
  * in the ledger and admits nothing.
  */
final class DedupStore(
    store: TableStore,
    table: String,
    keyCol: String,
    expectedItems: Long = 10000000L) {
  import DedupStore.Mirror

  def corpus: Option[DataFrame] = store.read(s"$table/docs")

  // The version this instance builds on and driver-side mirrors of
  // its CONTROL state — the applied batch ids and the merged bloom bits,
  // both tiny — seeded once and advanced by this instance's commits:
  // an admit pays no ledger-scan or bloom head() job, and once another
  // writer commits, the next admit fails instead of trusting stale
  // mirrors. A fresh instance re-reads both from the store.
  private var mirror: Option[Mirror] = None

  private def current: Mirror = mirror.getOrElse {
    val base = store.snapshot(table)
    val applied = store.ledger(base)
    // NULL bloom cell = "no keys admitted yet" (an empty corpus after a
    // fully-duplicate or empty first batch) — flattened to None so every
    // consumer treats it as filter-absent
    val bloom = store.read(base, "bloom")
      .flatMap(df => Option(df.head().getAs[Array[Byte]]("bloom")))
    val m = Mirror(base, applied, bloom)
    mirror = Some(m)
    m
  }

  /** Admit one batch; returns the number of documents actually added
    * (0 on a replayed batch id).
    */
  def admit(batchId: String, batch: DataFrame): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val Mirror(base, applied, bloomBytes) = current
    if (applied.contains(batchId)) return 0L
    store.requireLatest(base)

    // batch-internal exact dedup: lowest-ordered row per key wins
    val cols = batch.columns
    val internal = batch.withColumn("__rn",
        row_number().over(Window.partitionBy(keyCol).orderBy(cols.map(col): _*)))
      .filter(col("__rn") === 1).drop("__rn")

    // vs corpus: bloom prefilter (stored filter, no corpus scan) +
    // exact verify join for possible members only
    val stored = store.read(base, "docs")
    val fresh = (stored, bloomBytes) match {
      case (Some(c), Some(bits)) =>
        val mc = BloomDedup.mightContain(bits, Seq(keyCol))
        internal.filter(!mc).unionByName(
          internal.filter(mc)
            .join(c.select(keyCol).dropDuplicates(keyCol), Seq(keyCol), "left_anti"))
      case _ => internal
    }
    val freshMat = fresh.localCheckpoint()
    // ONE aggregate job for the admit count AND the batch filter
    // (they were two full passes). An empty batch yields no filter:
    // BloomFilterAggregate over zero rows is NULL, which would poison
    // every later merge (found by DedupStorePropertiesSpec).
    val (added, batchBits) =
      BloomDedup.buildFilterAndCount(freshMat, Seq(keyCol), expectedItems)

    // fold the batch filter into the stored one (OR-merge) — the only
    // driver-side state is the filter itself.
    val mergedBits = (bloomBytes, batchBits) match {
      case (Some(old), Some(bits)) =>
        val f = BloomFilter.readFrom(old)
        f.mergeInPlace(BloomFilter.readFrom(bits))
        val out = new ByteArrayOutputStream()
        f.writeTo(out)
        out.toByteArray
      case (Some(old), None) => old
      case (None, Some(bits)) => bits
      // nothing admitted yet at all: keep the NULL "no filter" cell —
      // only aggregate-built filters are ever stored, so merges never
      // see a driver-built filter with an incompatible bit size
      case (None, None) => null
    }

    val next = store.commit(base, Seq(
      TableStore.Write("docs", stored.fold(freshMat)(_.unionByName(freshMat))),
      TableStore.Write("bloom", Seq(Tuple1(mergedBits)).toDF("bloom")),
      store.ledgerWrite(applied + batchId)))
    mirror = Some(Mirror(next, applied + batchId, Option(mergedBits)))
    added
  }
}

object DedupStore {
  private final case class Mirror(
      base: TableStore.Snapshot, applied: Set[String], bloom: Option[Array[Byte]])
}
