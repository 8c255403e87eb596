package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact set-similarity self-join via prefix filtering (the
  * SSJoin/PPJoin family: order every document's set elements by a
  * global rarity order; two sets with Jaccard ≥ θ MUST share an
  * element inside their first `|x| - ceil(θ·|x|) + 1` elements of
  * that order, so candidate pairs are generated from those short
  * prefixes only and then verified exactly).
  *
  * This is the exact-answer complement to MinHash/LSH (`LshIndex`,
  * q23): no false negatives, no signatures — the pruning is
  * algebraic. At scale the win is that the candidate-generating
  * inverted index holds only prefix elements (the RAREST ~(1-θ)
  * share of each document), whose posting lists are short by
  * construction; the frequent elements that dominate ordinary
  * posting-list joins (q22/q105) never generate candidates at all.
  *
  * Every threshold comparison is exact integer arithmetic
  * (`ceil(θn)` as `(θ_num·n + θ_den - 1) DIV θ_den`, the Jaccard
  * test cross-multiplied) — no float rounding can make the Spark
  * side and a brute-force oracle disagree (gate `q141`).
  *
  * Reference behavior: near-duplicate grouping over cleaned
  * disruption text (`/root/reference/src/processing/data_cleaner.py`
  * dedupes exact `disruption_id` only; this generalizes to content
  * similarity as SURVEY §2's dedup family requires).
  */
object PrefixFilterJoin {

  /** Pairs with whitespace-token-set Jaccard ≥ θ. Pruning power
    * depends on token diversity — for natural text prefer
    * [[shingleSelfJoin]], whose shingle vocabulary is far larger.
    */
  def jaccardSelfJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thetaNum: Int,
      thetaDen: Int): DataFrame =
    setSelfJoin(docs, idCol, split(col(textCol), " "), thetaNum, thetaDen)

  /** Pairs whose word n-gram (shingle) sets have Jaccard ≥ θ — the
    * standard near-duplicate formulation: shingles keep word ORDER
    * information and draw from a combinatorially large vocabulary,
    * so rare-prefix pruning bites even when the word vocabulary is
    * tiny.
    */
  def shingleSelfJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      thetaNum: Int,
      thetaDen: Int): DataFrame =
    setSelfJoin(docs, idCol,
      graft.functions.WordShingles(col(textCol), n),
      thetaNum, thetaDen)

  /** All unordered pairs (a_id < b_id) whose de-duplicated
    * `setExpr` element sets have Jaccard ≥ thetaNum/thetaDen, with
    * the exact intersection size and the Jaccard value. Documents
    * with empty sets never pair.
    */
  def setSelfJoin(
      docs: DataFrame,
      idCol: String,
      setExpr: Column,
      thetaNum: Int,
      thetaDen: Int,
      postingCap: Int = 1024): DataFrame = {
    require(thetaNum > 0 && thetaDen > 0 && thetaNum <= thetaDen, "need 0 < θ ≤ 1")
    require(postingCap >= 2, "postingCap must allow pairs within a chunk")

    val tok = docs.select(col(idCol).as("doc_id"), explode(array_distinct(setExpr)).as("tk"))

    // Global document frequency gives the canonical rare-first
    // element order (rarest elements have the shortest posting
    // lists, so they are the cheapest to index). Ties break on the
    // element itself so the order is total and deterministic.
    val freq = tok.groupBy("tk").agg(count(lit(1)).as("df"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))

    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("tk"))
    // prefix length p = n - ceil(θn) + 1, all in integer arithmetic:
    // ceil(θn) computed as a float (0.9·20 = 18.000…04 → ceil 19)
    // would silently DROP matching pairs.
    val prefix = tok
      .join(freq, "tk")
      .withColumn("pos", row_number().over(byRarity))
      .join(sizes, "doc_id")
      .filter(col("pos") <= col("n") - expr(
        s"(n * $thetaNum + $thetaDen - 1) DIV $thetaDen") + 1)

    // Candidate pairs: docs sharing ≥1 prefix element. Posting-list
    // pair expansion (sorted set → unordered i<j pairs) avoids a
    // hash self-join build over the index; [[BucketedPairs]] holds
    // the shared heavy-hitter chunk discipline (an adversarially hot
    // prefix token still costs its true quadratic pair count —
    // exactness requires it — but it can no longer overflow
    // OrderedPairs or serialize on one task).
    // materialized: the posting index feeds BucketedPairs' three
    // branches (light, heavy within-chunk, heavy cross-chunk) —
    // recomputing tok+freq+prefix per branch would triple the
    // dominant upstream cost. localCheckpoint (eager), not persist():
    // persist entries are pinned in the block manager until an
    // explicit unpersist (impossible here — the returned frame still
    // reads the cache lazily), whereas checkpoint blocks are released
    // by the ContextCleaner once the RDD is unreachable, so repeated
    // calls can't accumulate pinned blocks for the session lifetime.
    val posting = prefix
      .groupBy("tk")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .localCheckpoint()
    val candidates =
      BucketedPairs.expand(posting, "tk", "ds", postingCap).distinct()

    // Exact verification on the candidate sliver only: fetch both
    // full element sets, intersect, cross-multiplied Jaccard test
    // shared/(na+nb-shared) ≥ θ  ⇔  shared·(θ_den+θ_num) ≥ θ_num·(na+nb).
    val toks = tok.groupBy("doc_id").agg(collect_set(col("tk")).as("toks"), count(lit(1)).as("n"))
    val shared = size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType)
    // The fetch joins stay DECLARED, not forced: the planner
    // broadcasts the doc-level toks side while it fits (measured at
    // the sf1 rung: the broadcast plan avoids re-shuffling the
    // quadratic candidate stream twice — forcing SHUFFLE_HASH here
    // cost 3.5× wall, 35→123 s) and degrades to a partitioned join
    // when toks outgrows the threshold. The q105-class rogue
    // broadcast (planner picks the misestimated PAIR side) does not
    // arise here: toks' estimate is genuinely the smaller one — and
    // because that claim is estimate-dependent, PlanGuardSpec pins
    // the shape structurally (no BroadcastExchange may ever build
    // over the OrderedPairs candidate frame in q141's plan).
    candidates
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("a_toks"), col("n").as("na")), "a_id")
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("b_toks"), col("n").as("nb")), "b_id")
      .filter(col("na") * thetaDen >= col("nb") * thetaNum &&
        col("nb") * thetaDen >= col("na") * thetaNum)
      .select(col("a_id"), col("b_id"), shared.as("shared"), col("na"), col("nb"))
      .filter(col("shared") * (thetaDen + thetaNum) >= (col("na") + col("nb")) * thetaNum)
      .select(col("a_id"), col("b_id"), col("shared"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
  }
}
