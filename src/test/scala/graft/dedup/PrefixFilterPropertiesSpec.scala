package graft.dedup

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based exactness check for PrefixFilterJoin: on random
  * corpora drawn from a small vocabulary (maximal overlap pressure —
  * the worst case for pruning bugs), the prefix-filtered result must
  * equal the brute-force O(n²) join for every θ. Fixed seeds make
  * failures reproduce.
  */
class PrefixFilterPropertiesSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // Documents of 1–12 words over a 9-word vocabulary: lots of ties in
  // global frequency, duplicate docs, subset docs, empty overlaps.
  private val genDoc: Gen[String] = for {
    len <- Gen.chooseNum(1, 12)
    ws <- Gen.listOfN(len, Gen.oneOf((0 until 9).map(i => s"w$i")))
  } yield ws.mkString(" ")

  private def brute(corpus: org.apache.spark.sql.DataFrame, num: Int, den: Int) = {
    val tok = corpus.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tk"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    tok.select(col("doc_id").as("a_id"), col("tk"))
      .join(tok.select(col("doc_id").as("b_id"), col("tk")), "tk")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .filter(col("shared") * (den + num) >= (col("na") + col("nb")) * num)
      .select("a_id", "b_id", "shared")
  }

  test("prefix-filtered join equals brute force on random corpora across thresholds") {
    import spark.implicits._
    for ((seed, (num, den)) <- Seq(
        (100L, (1, 2)), (200L, (7, 10)), (300L, (4, 5)), (400L, (9, 10)), (500L, (1, 1)))) {
      val corpus = samples(genDoc, 60, seed).zipWithIndex
        .map { case (txt, i) => (i.toLong, txt) }.toDF("doc_id", "text")
      val got = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), num, den)
        .select("a_id", "b_id", "shared")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = brute(corpus, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"mismatch at θ=$num/$den seed=$seed: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("heavy-hitter split is lossless: pathological hot postings equal brute force and the uncapped path") {
    import spark.implicits._
    // 3-word vocabulary → every token is globally hot and lands in
    // prefixes of ~all docs: posting lists of 30-60 docs. postingCap=4
    // forces those postings through the chunk split (within-chunk +
    // cross-chunk branches both non-trivial); at the production cap
    // (1024) the same postings take the light path. All three results
    // must be identical — the split changes execution shape only.
    // (A true OrderedPairs overflow needs ~65k-doc postings; cap=4 on
    // 60 docs exercises the identical code path that bounds each
    // expansion row below the guard at any scale.)
    val genHot: Gen[String] = for {
      len <- Gen.chooseNum(1, 3)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" ")
    for ((seed, (num, den)) <- Seq((600L, (1, 2)), (700L, (2, 3)))) {
      val corpus = samples(genHot, 60, seed).zipWithIndex
        .map { case (txt, i) => (i.toLong, txt) }.toDF("doc_id", "text")
      def run(cap: Int) = PrefixFilterJoin
        .setSelfJoin(corpus, "doc_id", split(col("text"), " "), num, den, cap)
        .select("a_id", "b_id", "shared")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val capped = run(4)
      val uncapped = run(1024)
      val want = brute(corpus, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(capped.nonEmpty, s"degenerate case at seed=$seed — no pairs to check")
      assert(capped == want, s"split ≠ brute at θ=$num/$den seed=$seed: " +
        s"missing=${(want -- capped).take(5)} extra=${(capped -- want).take(5)}")
      assert(capped == uncapped, s"split ≠ uncapped at θ=$num/$den seed=$seed")
    }
  }

  test("heavy-hitter split fuzz: zipfian random corpus, cap 64 ≡ cap 2 ≡ uncapped ≡ brute force") {
    import spark.implicits._
    // The cap=4 case above is adversarial but tiny (3-token vocab,
    // 60 docs). This drives the chunk-boundary arithmetic where
    // off-by-ones actually live: a 400-doc corpus over a 12-token
    // zipfian vocabulary (weight ∝ 1/rank) makes even rare-ish tokens
    // appear in ~20%+ of docs, so prefix postings run to hundreds and
    // cap=64 genuinely chunks them (asserted below, not assumed),
    // with ragged chunk sizes that vary by seed. cap=2 (the minimum)
    // maximizes cross-chunk pairs. All runs and the brute-force join
    // must agree exactly.
    val vocab = 12
    val genWord: Gen[String] = Gen.frequency(
      (1 to vocab).map(r => ((vocab * 10) / r, Gen.const(s"t$r"))): _*)
    val genZipfDoc: Gen[String] = for {
      len <- Gen.chooseNum(3, 15)
      ws <- Gen.listOfN(len, genWord)
    } yield ws.mkString(" ")

    // engagement probe: the max prefix-posting length under the same
    // rare-first prefix rule (used only to prove cap=64 actually
    // split something; correctness is pinned against brute force)
    def maxPrefixPosting(corpus: org.apache.spark.sql.DataFrame, num: Int, den: Int): Long = {
      val tok = corpus.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tk"))
      val freq = tok.groupBy("tk").agg(count(lit(1)).as("df"))
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val byRarity = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("df"), col("tk"))
      tok.join(freq, "tk")
        .withColumn("pos", row_number().over(byRarity))
        .join(sizes, "doc_id")
        .filter(col("pos") <= col("n") - expr(
          s"(n * $num + $den - 1) DIV $den") + 1)
        .groupBy("tk").agg(count(lit(1)).as("plen"))
        .agg(max("plen")).head.getLong(0)
    }

    for ((seed, (num, den)) <- Seq((800L, (1, 2)), (900L, (3, 4)))) {
      val corpus = samples(genZipfDoc, 400, seed).zipWithIndex
        .map { case (txt, i) => (i.toLong, txt) }.toDF("doc_id", "text")
      assert(maxPrefixPosting(corpus, num, den) > 64,
        s"fuzz corpus too sparse at θ=$num/$den seed=$seed — cap 64 never engaged")
      def run(cap: Int) = PrefixFilterJoin
        .setSelfJoin(corpus, "doc_id", split(col("text"), " "), num, den, cap)
        .select("a_id", "b_id", "shared")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val cap64 = run(64)
      val cap2 = run(2)
      val uncapped = run(1000000)
      val want = brute(corpus, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(cap64.nonEmpty, s"degenerate fuzz case at seed=$seed")
      assert(cap64 == want, s"cap64 ≠ brute at θ=$num/$den seed=$seed: " +
        s"missing=${(want -- cap64).take(5)} extra=${(cap64 -- want).take(5)}")
      assert(cap2 == want, s"cap2 ≠ brute at θ=$num/$den seed=$seed")
      assert(uncapped == want, s"uncapped ≠ brute at θ=$num/$den seed=$seed")
    }
  }

  test("θ=1 returns exactly the identical-set pairs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c"), (2L, "c b a a"), (3L, "a b"), (4L, "d e"), (5L, "e d d")
    ).toDF("doc_id", "text")
    val got = PrefixFilterJoin.setSelfJoin(corpus, "doc_id", split(col("text"), " "), 1, 1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (4L, 5L)))
  }
}
