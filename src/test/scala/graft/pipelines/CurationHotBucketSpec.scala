package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipelines.CorpusCuration.{Config, NearDupCandidates}

/** The band-bucket hot-key exposure, closed (round-10 verdict #1): a
  * boilerplate-heavy corpus of near-identical-but-not-equal docs puts
  * B docs in ONE band bucket — stage-3 exact dedup can't collapse them
  * (texts differ) and band-exact agreement doesn't decay (the shared
  * core dominates every MinHash minimum) — so the PLAIN band×band
  * self-join `CorpusCuration` shipped through round 10 emits B²/2
  * rows from one key: the q288-shaped single-task blowup inside the
  * engine's designated 100 TB path. The MinHashLsh branch now expands
  * through [[graft.dedup.BucketedPairs]]; this spec crafts exactly
  * that corpus, proves the hot bucket exists (census), proves the
  * chunk path engages and stays bounded, and pins that chunked and
  * unchunked candidates agree end-to-end (losslessness at audit
  * level). RED under a revert to the plain join: the source pin fails,
  * and the bounded-chunk assertions have no subject.
  */
class CurationHotBucketSpec extends SparkSpec {

  import spark.implicits._

  // 100 near-identical-but-not-equal docs: a fixed 60-word diverse core
  // (passes every quality gate: top-word share 1/61, zero repetition)
  // plus one doc-unique tail word (defeats stage-3 exact dedup). 57 of
  // each doc's 59 trigrams are shared, so MinHash minima come from the
  // shared core for almost every (doc, hash) draw → most docs agree on
  // ALL FOUR band keys: the boilerplate bucket shape.
  private lazy val boilerplate = (1L to 100L).map { d =>
    d -> ((0 until 60).map(i => s"w$i").mkString(" ") + s" u$d")
  }.toDF("doc_id", "text")

  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(
        graft.functions.WordShingles(lower(col("text")), 3))).as("s"))

  private def nearDupFlags(cfg: Config): Map[Long, Boolean] =
    CorpusCuration.audit(boilerplate, cfg).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap

  test("the census sees the boilerplate bucket the structural guards cannot prevent") {
    val bands = graft.dedup.LshIndex.bandsFromPostings(postings(boilerplate))
    val census = graft.dedup.LshIndex.bucketCensus(bands)
    info(s"census: buckets=${census.pairedBuckets} max=${census.maxBucket} " +
      s"p99=${census.p99Bucket} maxPairs=${census.maxBucketPairs}")
    assert(census.maxBucket >= 50L,
      s"corpus failed to form a hot bucket (max=${census.maxBucket}) — " +
        "the spec's premise is gone")
    assert(census.maxBucketPairs >= 1000L,
      "the plain band join would not have paid a quadratic key here")
  }

  test("the chunk path engages on the hot bucket and every chunk is bounded") {
    val bands = graft.dedup.LshIndex.bandsFromPostings(postings(boilerplate))
    val buckets = bands.groupBy("bkey")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val chunks = graft.dedup.BucketedPairs.chunkFrame(buckets, "bkey", "ds", 8)
      .collect()
    assert(chunks.nonEmpty,
      "cap 8 on a ≥50-doc bucket must route through the heavy branches")
    assert(chunks.forall(_.getSeq[Long](2).size <= 8),
      "a chunk exceeded the cap — the single-task bound is gone")
  }

  test("chunked (cap 8) and unchunked (huge cap) audits agree end-to-end") {
    // cap 8 forces the hot bucket through within-chunk + cross-chunk
    // branches ~7 chunks deep; a huge cap reproduces the monolithic
    // expansion (= the old plain join's candidate set). Identical
    // audits ⇒ the split is lossless where it matters: the verdicts.
    val capped = nearDupFlags(Config(
      candidates = NearDupCandidates.MinHashLsh(bucketCap = 8)))
    val unchunked = nearDupFlags(Config(
      candidates = NearDupCandidates.MinHashLsh(bucketCap = 1 << 20)))
    assert(capped == unchunked, "hot-bucket chunking changed the audit")
    // and the corpus genuinely is near-dup-saturated: every doc except
    // blockers must be flagged through the chunked path
    val flagged = capped.count(_._2)
    info(s"near-dups flagged through chunked path: $flagged/100")
    assert(flagged >= 90, s"only $flagged/100 flagged — hot path lost candidates")
    assert(!capped(1L), "the lowest-id doc is the cluster blocker, never flagged")
  }

  test("Auto carries the cap through resolution") {
    val resolved = NearDupCandidates.resolve(
      NearDupCandidates.Auto(bucketCap = 8), postings(boilerplate),
      Config().maxPostingLen)
    assert(resolved == NearDupCandidates.MinHashLsh(8, 2, 8),
      s"boilerplate corpus must resolve dense AND keep its cap: $resolved")
  }

  test("the LSH branch and PrefixFilterJoin route through the shared expansion") {
    // the gates' plans truncate behind localCheckpoint, so pin the
    // SOURCE (the DegreeOrientation pattern): an inline plain-join
    // rewrite in either file would keep every hash gate green while
    // re-opening the single-key quadratic expansion unseen
    for (f <- Seq("src/main/scala/graft/pipelines/CorpusCuration.scala",
                  "src/main/scala/graft/dedup/PrefixFilterJoin.scala")) {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")
      assert(src.contains("BucketedPairs"),
        s"$f no longer routes through BucketedPairs.expand")
    }
  }
}
