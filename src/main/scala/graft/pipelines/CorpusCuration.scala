package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{StripAccents, WordShingles}

/** End-to-end training-corpus curation: the operators the engine
  * provides individually (normalization, repetition quality filters,
  * exact dedup, near-dup detection), composed in the order a
  * pretraining data pipeline runs them, with a full per-document audit
  * trail.
  *
  * Stages (each consumes the previous stage's survivors):
  *  1. normalize  — strip accents, lowercase, collapse whitespace
  *     ([[StripAccents]]; the reference cleaner's canonicalization,
  *     `src/transformation/cleaners.py:63-88`, at character level);
  *  2. quality    — Gopher-style repetition gates: ≥ `minWords` words,
  *     top-word share < `maxTopWordFrac`, duplicate-word fraction <
  *     `maxRepWordFrac`;
  *  3. exact dedup — lowest doc_id survives per md5(norm_text);
  *  4. near dedup  — word-trigram Jaccard ≥ `jaccardThreshold` against
  *     ANY smaller-id stage-3 survivor drops a doc (greedy pairwise
  *     rule: the blocker keeps blocking even if itself near-dup-dropped
  *     — deterministic without computing transitive closures; use
  *     [[graft.dedup.Dedup]] connected components when cluster
  *     canonicalization is required instead).
  *
  * Every stage is set-based and inverted-index shaped (no all-pairs
  * work): the near-dup candidates come from grouped shingle postings
  * expanded with array HOFs, so shuffle volume is O(postings). Flags
  * are false for documents that never reached a stage; `kept` is the
  * end-to-end verdict. The whole audit frame is oracle-gated
  * (`q109_curation_pipeline`) against a single SQL re-implementation.
  *
  * The near-dup CANDIDATE source is pluggable ([[NearDupCandidates]]):
  * exact postings (complete candidates, the default) densify
  * super-linearly on corpora where shingles repeat heavily — the one
  * family the scale ladder measured ×135 at the sf1 rung — while the
  * MinHash-LSH variant stays posting-linear (×17 on the same rung) at
  * the cost of banded recall. Candidates from EITHER source pass the
  * same exact-Jaccard verification, so the LSH variant can only MISS
  * pairs, never invent them (precision 1 by construction; pinned in
  * CurationLshSpec, hash-gated end-to-end as `q530_curation_lsh`).
  * [[NearDupCandidates.Auto]] removes the need to know the regime up
  * front: a pre-flight posting-density probe picks the source per
  * corpus, thresholds from the measured rungs (CurationAutoSpec pins
  * the switch on both corpus shapes).
  */
object CorpusCuration {

  /** Where stage 4 gets its near-dup candidate pairs. */
  sealed trait NearDupCandidates
  object NearDupCandidates {
    /** Exact trigram posting expansion — complete candidate set
      * (recall 1). Quadratic in per-shingle document frequency: right
      * at gate scale and on diverse corpora, super-linear on dense
      * ones.
      */
    case object ExactPostings extends NearDupCandidates

    /** MinHash-LSH banded candidates (the q23 construction via
      * [[graft.dedup.LshIndex.bandsFromPostings]]) → exact-Jaccard
      * verification. Posting-linear at any corpus density — the
      * 100 TB path; recall is the banded collision probability
      * 1-(1-s^b)^(n/b) at true similarity s.
      *
      * `bucketCap` bounds the band-bucket hot-key exposure (the
      * q288-shaped risk INSIDE the LSH join itself, SCALING.md round
      * 10): a boilerplate-heavy corpus of near-identical-but-not-equal
      * docs puts B docs in one band bucket and B²/2 candidate rows on
      * one key. Buckets past the cap are split losslessly into
      * contiguous chunks via [[graft.dedup.BucketedPairs]] — same
      * candidate set, partitioned expansion — so the protection is
      * ALWAYS-ON and structural rather than census-triggered; the cap
      * is generous (a full 1024-doc bucket still expands in bounded
      * ≤ cap²/2-pair rows) because the two structural guards upstream
      * (exact dedup before LSH; band-exact agreement decaying with
      * corpus diversity) keep real buckets tiny — the 500 k-doc rung
      * measured p99 bucket 4, max 765.
      */
    final case class MinHashLsh(
        nHashes: Int = 8, bandSize: Int = 2, bucketCap: Int = 1024)
        extends NearDupCandidates

    /** Measure the corpus, then pick: a pre-flight posting-density
      * probe (one bounded-collect aggregate over the shingle postings
      * — the q308_lsh_band_stats aggregate, which the ExactPostings
      * branch would recompute anyway) counts the candidate pairs the
      * exact expansion WOULD generate, `Σ_s C(min(df_s, cap), 2)`,
      * and compares it to the posting count — the LSH variant's own
      * work scale. Exact postings win while pairs stay
      * posting-bounded (complete recall for free); past
      * `pairsPerPostingCutoff` the expansion dominates every
      * downstream stage and the banded candidates take over. The
      * cutoff sits between the measured regimes (SCALING.md round
      * 10): the sf0.1 gate-class corpus probes 4.9 pairs/posting
      * (exact measured faster there), the dense rungs 52.6 (sf1) and
      * 158.5 (sf10 docs ×3) — the probe grows LINEARLY in doc count
      * on a fixed vocabulary (52.6 × 3 ≈ 158), which is exactly the
      * regime where exact expansion goes quadratic (×75 shufW per
      * decade vs LSH ×15.7, 2.1× wall at sf1) — so the 100 TB user no
      * longer has to KNOW the regime; the pipeline measures it.
      */
    final case class Auto(
        nHashes: Int = 8,
        bandSize: Int = 2,
        pairsPerPostingCutoff: Double = DefaultPairsPerPostingCutoff,
        bucketCap: Int = 1024)
        extends NearDupCandidates

    /** [[Auto]]'s default cutoff — PROVENANCE: measured on a
      * 32-core/128 GiB single JVM (SCALING.md round 10): gate-class
      * corpora probe ~4.9 pairs/posting (exact postings measured
      * faster AND complete there), the dense rungs 52.6/158.5/527.8
      * (where the exact expansion costs ×75 shuffle per doc decade vs
      * LSH ×15.7). 16 is the geometric mean of the flanking rungs
      * with ~3× margin each side; the probe itself is
      * machine-independent (a pure pair-count ratio), so only the
      * WALL-TIME crossover — not the metric — could sit differently
      * on other hardware. Re-probe with the SCALING.md §round-10
      * ladder when deploying somewhere the relative cost of shuffle
      * vs CPU differs wildly from this box.
      */
    val DefaultPairsPerPostingCutoff: Double = 16.0

    /** The probe behind [[Auto]], exposed for specs: candidate pairs
      * the exact expansion would emit per posting row, over prebuilt
      * distinct (doc_id, s) postings.
      */
    def probePairsPerPosting(sh: DataFrame, maxPostingLen: Int): Double = {
      val capped = least(col("df"), lit(maxPostingLen.toLong))
      val r = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .agg(
          // 2·pairs: SQL `/` would widen to double; halve driver-side
          sum(capped * (capped - 1)).as("pairs2"),
          sum(col("df")).as("postings"))
        // bounded-collect: O(1) — one global aggregate row
        .collect()(0)
      if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
      else r.getLong(0).toDouble / 2.0 / r.getLong(1)
    }

    /** Resolve [[Auto]] against measured postings; pass-through for
      * the explicit sources.
      */
    def resolve(c: NearDupCandidates, sh: DataFrame,
                maxPostingLen: Int): NearDupCandidates = c match {
      case Auto(nh, bs, cutoff, cap) =>
        if (probePairsPerPosting(sh, maxPostingLen) > cutoff)
          MinHashLsh(nh, bs, cap)
        else ExactPostings
      case explicit => explicit
    }
  }

  final case class Config(
      minWords: Int = 10,
      maxTopWordFrac: Double = 0.2,
      maxRepWordFrac: Double = 0.8,
      jaccardThreshold: Double = 0.5,
      maxPostingLen: Int = 100000,
      candidates: NearDupCandidates = NearDupCandidates.ExactPostings)

  /** Per-document audit: (doc_id, n_words, q_keep, is_exact_dup,
    * is_near_dup, kept), totally ordered by doc_id.
    */
  def audit(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val spark = docs.sparkSession

    // 1. normalize — materialized ONCE (round 12): the normalized
    // text feeds three independent consumers (the quality explode,
    // the exact-dup md5 window, the shingle postings), so the
    // accent-strip + regexp chain ran 3× per audit. Normalize-once is
    // what a production pipeline does with its costliest per-row pass
    // (guide §2.4); in-session A/B: q530 −8..12%, q532 −4..6%,
    // q109 −2..7%, q500 a wash. (The round-11 loser lesson — don't
    // checkpoint postings-sized frames — doesn't apply: this frame is
    // corpus-row-sized with one string per doc, and its recompute is
    // the expensive normalization itself, not a cheap re-aggregate.)
    val norm = docs.select(col("doc_id"),
      trim(regexp_replace(StripAccents(lower(col("text"))), " +", " "))
        .as("ntext"))
      .localCheckpoint()

    // 2. quality: word-repetition stats from one explode.
    // Materialized once (localCheckpoint, like `sh` below): the qual
    // frame feeds three otherwise-independent evaluations — the exact
    // window's survivor filter (which runs inside stage 4's eager `sh`
    // checkpoint job), and the final assemble's join — and each
    // re-evaluation re-ran the full explode + two shuffles. Same for
    // `exact` below (scan + md5 window), re-run by both the stage-4
    // survivor filter and the final assemble.
    val wc = norm.select(col("doc_id"), explode(split(col("ntext"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val qual = wc.groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_word"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= cfg.minWords &&
          col("max_word").cast("double") / col("n_words") < cfg.maxTopWordFrac &&
          (col("n_words") - col("n_distinct")).cast("double") / col("n_words")
            < cfg.maxRepWordFrac).as("q_keep"))
      .localCheckpoint()

    // 3. exact dedup among quality survivors (lowest doc_id wins)
    val exact = norm.join(qual.filter(col("q_keep")).select("doc_id"), "doc_id")
      .select(col("doc_id"),
        (row_number().over(
          Window.partitionBy(md5(col("ntext"))).orderBy("doc_id")) > 1)
          .as("is_exact_dup"))
      .localCheckpoint()

    // 4. near dedup among exact survivors: candidate pairs from the
    // configured source, then the SAME exact-Jaccard verdict (the
    // smaller id is always the blocker). The shingle postings are
    // materialized once (localCheckpoint, ContextCleaner-collectable
    // — a persist here would pin blocks for the session) because they
    // feed both candidate generation and exact verification.
    val surv = exact.filter(!col("is_exact_dup")).select("doc_id")
    val sh = norm.join(surv, "doc_id")
      .select(col("doc_id"),
        explode(array_distinct(WordShingles(col("ntext"), 3))).as("s"))
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = NearDupCandidates.resolve(cfg.candidates, sh, cfg.maxPostingLen) match {
      case _: NearDupCandidates.Auto =>
        sys.error("unreachable: resolve() returns an explicit source")
      case NearDupCandidates.ExactPostings =>
        // complete pairs with their intersection size in one postings
        // expansion (symmetric counts → expand unordered). The
        // expansion goes through BucketedPairs here too (round 11):
        // maxPostingLen (100 000) admits postings past OrderedPairs'
        // Int pair-count guard (~65 536), so the old monolithic
        // explode had a CRASH window between the two caps — and even
        // inside the guard, one 50 k-doc posting was a 1.2·10⁹-pair
        // single array row on one task. Chunked, the same pair
        // multiset arrives in cap-bounded rows; the per-(da,db) count
        // (= intersection size) is unchanged because the split is
        // lossless with multiplicity.
        // materialized for BucketedPairs' three branches, like every
        // other call site (localCheckpoint, ContextCleaner-collectable)
        val posting = sh.groupBy("s")
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")).between(2, cfg.maxPostingLen))
          .localCheckpoint()
        graft.dedup.BucketedPairs.expand(posting, "s", "ds")
          .groupBy(col("a_id").as("da"), col("b_id").as("db"))
          .agg(count(lit(1)).as("common"))
      case NearDupCandidates.MinHashLsh(nHashes, bandSize, bucketCap) =>
        // banded candidates (docs sharing ≥1 minhash band), then the
        // exact intersection size recomputed from the postings — LSH
        // only PRUNES which pairs get verified. The expansion goes
        // through BucketedPairs, NOT a plain band×band self-join: a
        // boilerplate corpus can put B near-identical-but-not-equal
        // docs in one band bucket, and the plain join's B²/2 rows
        // from one key are the q288-shaped single-task blowup inside
        // the engine's own designated 100 TB path (SCALING.md round
        // 10 named this split as the remedy; CurationHotBucketSpec
        // pins it RED under the plain join's monolithic expansion).
        // materialized: the bucket frame feeds BucketedPairs' three
        // branches; localCheckpoint over persist for the same
        // ContextCleaner reasons as `sh` above.
        val bands = graft.dedup.LshIndex.bandsFromPostings(sh, nHashes, bandSize)
        val buckets = bands.groupBy("bkey")
          .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
          .filter(size(col("ds")) >= 2)
          .localCheckpoint()
        val cand = graft.dedup.BucketedPairs
          .expand(buckets, "bkey", "ds", bucketCap)
          .select(col("a_id").as("da"), col("b_id").as("db"))
          .distinct()
        cand
          .join(sh.select(col("doc_id").as("da"), col("s")), "da")
          .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
          .groupBy("da", "db")
          .agg(count(lit(1)).as("common"))
    }
    // SHUFFLE_HASH pins the hash build to the O(docs) sizes side: the
    // candidate pair frame's cardinality is invisible to Catalyst
    // (explode/band-join output), and a misestimated broadcast of the
    // PAIR side is a driver collect that grows quadratically on dense
    // corpora (the q105 sf1 abort, round-9 audit)
    val near = pairs
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na"))
        .hint("shuffle_hash"), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb"))
        .hint("shuffle_hash"), "db")
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= cfg.jaccardThreshold)
      .select(col("db").as("doc_id")).distinct()
      .withColumn("is_near_dup", lit(true))

    // assemble the audit; flags default false for unreached stages
    def flag(c: Column): Column = coalesce(c, lit(false))
    qual
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("q_keep"),
        flag(col("is_exact_dup")).as("is_exact_dup"),
        flag(col("is_near_dup")).as("is_near_dup"))
      .withColumn("kept",
        col("q_keep") && !col("is_exact_dup") && !col("is_near_dup"))
      .orderBy("doc_id")
  }
}
