package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lossless unordered-pair expansion over bucketed ids with hot-bucket
  * chunking — the shared split discipline behind every posting/bucket
  * self-pairing in the engine ([[PrefixFilterJoin]]'s prefix-token
  * postings since round 9, [[graft.pipelines.CorpusCuration]]'s LSH
  * band buckets since round 11).
  *
  * The problem it removes is the single-key quadratic blowup: a bucket
  * (posting list, band bucket) holding B ids must emit B·(B-1)/2
  * candidate pairs — that cost is irreducible when exactness demands
  * every pair — but a NAIVE expansion pays it in the worst possible
  * shape: either one s²/2-pair array row (OrderedPairs overflows Int
  * past s ≈ 65k and one task owns the whole expansion) or one join key
  * whose B²/2 output rows serialize through a single shuffle task (the
  * round-9 q288-shaped skew class; SCALING.md round 10 measured the
  * LSH twin of this exposure and named this split as the remedy).
  *
  * The split: a bucket with ≤ cap ids expands directly; a hotter
  * bucket is cut into contiguous CHUNKS of its globally-sorted id
  * list. Within-chunk pairs expand per chunk (each explode row bounded
  * at cap²/2 pairs), cross-chunk pairs come from a chunk-pair join
  * (chunk i's ids all sort before chunk j's for i < j, so a < b is
  * free). The union is EXACTLY the i<j pair set of the full bucket —
  * lossless by construction, pinned per shape in BucketedPairsSpec —
  * but one monolithic array row becomes (B/cap)² bounded rows that
  * spread across partitions.
  */
object BucketedPairs {

  /** All unordered (a_id < b_id) pairs from every bucket's sorted
    * distinct id array, hot buckets split losslessly into chunks of at
    * most `cap` ids.
    *
    * @param buckets one row per bucket: `keyCol` (the bucket key) and
    *                `dsCol` (a SORTED array of the bucket's DISTINCT
    *                ids — `sort_array(collect_set(...))`). Callers
    *                should materialize this frame (localCheckpoint)
    *                when it is expensive to recompute: three branches
    *                read it.
    * @return (a_id, b_id) with per-bucket multiplicity — a pair
    *         sharing k buckets appears k times; `.distinct()` or a
    *         `groupBy.count` downstream as the semantics require.
    */
  def expand(
      buckets: DataFrame,
      keyCol: String,
      dsCol: String,
      cap: Int = 1024): DataFrame = {
    require(cap >= 2, "cap must allow pairs within a chunk")
    val spark = buckets.sparkSession
    def pairs(df: DataFrame, c: Column): DataFrame = df
      .select(explode(graft.functions.OrderedPairs(c)).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
    val light = pairs(buckets.filter(size(col(dsCol)) <= cap), col(dsCol))
    val chunks = chunkFrame(buckets, keyCol, dsCol, cap)
    val heavyWithin = pairs(chunks, col("cds"))
    val heavyCross = chunks.select(col(keyCol), col("chunk"), col("cds"))
      .join(chunks.select(
        col(keyCol), col("chunk").as("chunk_b"), col("cds").as("cds_b")), keyCol)
      .filter(col("chunk") < col("chunk_b"))
      .select(explode(col("cds")).as("a_id"), col("cds_b"))
      .select(col("a_id"), explode(col("cds_b")).as("b_id"))
    light.unionByName(heavyWithin).unionByName(heavyCross)
  }

  /** The hot buckets (> cap ids) cut into contiguous chunks of the
    * sorted id list: (keyCol, chunk, cds) with every `cds` bounded at
    * `cap` ids. Package-visible so the spec can pin the bound and the
    * reassembly directly — the operator's whole point is that no
    * collected array and no single explode row ever exceeds the cap.
    */
  private[graft] def chunkFrame(
      buckets: DataFrame, keyCol: String, dsCol: String, cap: Int): DataFrame =
    buckets.filter(size(col(dsCol)) > cap)
      .select(col(keyCol), posexplode(col(dsCol)).as(Seq("pos", "id")))
      .withColumn("chunk", expr(s"pos DIV $cap"))
      .groupBy(col(keyCol), col("chunk"))
      // within a chunk the ids are distinct, so sort_array reproduces
      // the contiguous sorted slice regardless of collect_list order
      .agg(sort_array(collect_list(col("id"))).as("cds"))
}
