package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipelines.CorpusCuration.{Config, NearDupCandidates}

/** Pins [[NearDupCandidates.Auto]]'s regime switch on both corpus
  * shapes the scale ladder measured: a DIVERSE corpus (shingles
  * mostly unique — candidate pairs posting-bounded, exact postings
  * keep complete recall for free) must resolve to ExactPostings, and
  * a DENSE one (tiny fixed vocabulary — every shingle's posting list
  * spans the corpus, the exact expansion goes quadratic) must resolve
  * to MinHashLsh. The probe value itself is asserted on both sides of
  * the cutoff so a probe rewrite that drifts the metric (not just the
  * branch) turns red.
  */
class CurationAutoSpec extends SparkSpec {

  import spark.implicits._

  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(
        graft.functions.WordShingles(lower(col("text")), 3))).as("s"))

  // 60 docs over a combinatorially large vocabulary: shingle i of doc
  // d is "w<d> w<d+i> w<i>" — essentially no cross-doc repetition
  private lazy val diverse = (1L to 60L).map { d =>
    d -> (1 to 30).map(i => s"w$d w${d * 31 + i} w$i").mkString(" ")
  }.toDF("doc_id", "text")

  // 100 docs sharing a fixed 6-word cyclic core (all six core trigrams
  // have df = 100 — the fixed-vocab densification regime) plus one
  // doc-unique tail word, so texts stay distinct (no exact-dedup
  // collapse) and every doc passes the quality gates (top-word share
  // 5/26 < 0.2, dup-word fraction 19/26 < 0.8)
  private lazy val dense = (1L to 100L).map { d =>
    d -> ((0 until 25).map(i => s"v${i % 6}") :+ s"u$d").mkString(" ")
  }.toDF("doc_id", "text")

  test("the probe separates the two corpus shapes by an order of magnitude") {
    val cap = Config().maxPostingLen
    val pDiverse = NearDupCandidates.probePairsPerPosting(postings(diverse), cap)
    val pDense = NearDupCandidates.probePairsPerPosting(postings(dense), cap)
    info(f"probe: diverse=$pDiverse%.2f dense=$pDense%.2f pairs/posting")
    assert(pDiverse < 4.0,
      f"diverse corpus probes $pDiverse%.2f — exact postings would be refused")
    assert(pDense > 16.0,
      f"dense corpus probes $pDense%.2f — the quadratic expansion would be kept")
  }

  test("Auto resolves ExactPostings on diverse, MinHashLsh on dense") {
    val cap = Config().maxPostingLen
    val auto = NearDupCandidates.Auto(nHashes = 8, bandSize = 2)
    assert(NearDupCandidates.resolve(auto, postings(diverse), cap) ==
      NearDupCandidates.ExactPostings)
    assert(NearDupCandidates.resolve(auto, postings(dense), cap) ==
      NearDupCandidates.MinHashLsh(8, 2))
    // explicit sources pass through untouched — Auto never overrides
    // a caller that measured the regime independently
    assert(NearDupCandidates.resolve(
      NearDupCandidates.ExactPostings, postings(dense), cap) ==
      NearDupCandidates.ExactPostings)
  }

  test("end-to-end: audit under Auto equals audit under the resolved source") {
    def rows(docs: DataFrame, cfg: Config): Seq[(Long, Boolean, Boolean, Boolean, Boolean)] =
      CorpusCuration.audit(docs, cfg).collect().toSeq.map(r =>
        (r.getLong(0), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
    assert(rows(diverse, Config(candidates = NearDupCandidates.Auto())) ==
      rows(diverse, Config(candidates = NearDupCandidates.ExactPostings)))
    assert(rows(dense, Config(candidates = NearDupCandidates.Auto())) ==
      rows(dense, Config(candidates = NearDupCandidates.MinHashLsh(8, 2))))
  }
}
