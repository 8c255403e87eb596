package graft.dedup

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("label propagation finds transitive clusters") {
    import spark.implicits._
    // components: {1,2,3,4} via chain, {10,11}, singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges within default rounds (pointer jumping)") {
    import spark.implicits._
    // a 41-node path graph: one-hop-only propagation would need 40
    // rounds; doubling must collapse it within the default 8.
    // localEdgeCap = 0 forces the distributed loop (the small edge set
    // would otherwise take the driver-side path).
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs, localEdgeCap = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.size == 41 && cl.values.forall(_ == 0L))
  }

  test("driver-side union-find and distributed loop label identically") {
    import spark.implicits._
    // mixed shapes: chain, triangle+tail, star, singletons-by-absence
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L),
      (30L, 31L), (30L, 32L), (30L, 33L),
      (40L, 41L)).toDF("doc_a", "doc_b")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = toMapOf(Dedup.clusters(pairs))
    val dist = toMapOf(Dedup.clusters(pairs, localEdgeCap = 0))
    assert(local == dist)
    assert(local(23L) == 20L && local(33L) == 30L && local(41L) == 40L)
  }

  test("end-to-end on the planted near-dups: corpus shrinks by the dup count") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // reuse the verified gate query to produce pairs
    val pairs = graft.SparkEntry.queries("q22_ngram_jaccard")(
      spark, "/root/testdata/sf0.001").select("doc_a", "doc_b")
    val nPairs = pairs.count()
    assert(nPairs > 0)
    // keeping each cluster's canonical (lowest-id) doc drops the rest
    val cl = Dedup.clusters(pairs)
    val dropped = cl.count() - cl.select("cluster_id").distinct().count()
    // at least one doc dropped per cluster; never more than one per pair
    assert(dropped > 0 && dropped <= nPairs)
    // every cluster is labelled by its lowest member, a corpus doc
    assert(cl.filter(col("cluster_id") > col("doc_id")).isEmpty)
    assert(cl.select("cluster_id").distinct()
      .join(docs, col("cluster_id") === col("doc_id"), "left_anti").isEmpty)
  }
}
