package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The co-partitioned HITS variant (score repartition + partial-agg
  * sums + two-level norm — the 100 TB shape) must agree with the
  * bit-stable broadcast/ordered-fold form to float-accumulation
  * tolerance on every node's final authority: the two differ ONLY in
  * summation order, so any larger divergence is a real bug
  * (mis-joined scores, dropped partials, wrong norm level).
  * Tolerance-gated like the sketch operators (VERDICT r6 task 4).
  */
class HitsVariantsSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // bipartite (u, p): 40 buyers × 25 parts, dense enough that every
  // part has several edges and authority mass spreads
  private val genEdge: Gen[(Long, Long)] = for {
    u <- Gen.chooseNum(0, 39)
    p <- Gen.chooseNum(0, 24)
  } yield (u.toLong, p.toLong)

  private def scoresOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("variants agree per node to accumulation tolerance on random graphs") {
    import spark.implicits._
    samples(Gen.listOfN(160, genEdge), 4, seed = 47200L).foreach { es =>
      val edges = es.distinct.toDF("u", "p")
      val bc = scoresOf(Hits.authorities(edges, iters = 6, parts = 4))
      val cp = scoresOf(Hits.authorities(edges, iters = 6, parts = 4,
        copartitioned = true))
      assert(bc.keySet == cp.keySet, "node sets diverged")
      bc.foreach { case (p, v) =>
        assert(math.abs(v - cp(p)) < 1e-9,
          s"authority($p): broadcast $v vs copartitioned ${cp(p)}")
      }
    }
  }

  /** Ranking by the gates' total order (authority DESC, p ASC). */
  private def rankingOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy(col("authority").desc, col("p"))
      .collect().map(_.getLong(0)).toSeq

  private def assertAgree(edges: org.apache.spark.sql.DataFrame, label: String): Unit = {
    val bcDf = Hits.authorities(edges, iters = 6, parts = 4)
    val cpDf = Hits.authorities(edges, iters = 6, parts = 4, copartitioned = true)
    val bc = scoresOf(bcDf)
    val cp = scoresOf(cpDf)
    assert(bc.keySet == cp.keySet && bc.nonEmpty, s"$label: node sets diverged")
    bc.foreach { case (p, v) =>
      assert(math.abs(v - cp(p)) <= 1e-9 * math.max(1.0, math.abs(v)),
        s"$label authority($p): broadcast $v vs copartitioned ${cp(p)}")
    }
    assert(rankingOf(bcDf) == rankingOf(cpDf), s"$label: rankings diverged")
  }

  test("skewed degree: one hub buyer owning ~half the edges (partial-sum reordering stress)") {
    import spark.implicits._
    // hub u=0 buys 60 of 120 parts; 39 long-tail buyers get 2-4 parts
    // each from a fixed-seed draw — the shape where one group's fold
    // has 60 terms and partial-sum reordering actually bites
    val hub = (0 until 60).map(p => (0L, p.toLong))
    val tailGen: Gen[(Long, Long)] = for {
      u <- Gen.chooseNum(1, 39)
      p <- Gen.chooseNum(0, 119)
    } yield (u.toLong, p.toLong)
    val tail = samples(tailGen, 120, seed = 52900L)
    assertAgree((hub ++ tail).distinct.toDF("u", "p"), "skewed")
    // and with the hub on the PART side (one authority with a 40-term
    // fold every half-step)
    val hotPart = (0 until 40).map(u => (u.toLong, 0L))
    assertAgree((hotPart ++ tail).distinct.toDF("u", "p"), "hot-part")
  }

  test("disconnected components: norm couples them, per-component mass must still agree") {
    import spark.implicits._
    // three islands with no shared nodes — the global L2 norm is the
    // ONLY coupling, so a wrong norm level (per-partition instead of
    // global) shows up here and nowhere else
    val compA = for { u <- 0 until 8; p <- 0 until 5 } yield (u.toLong, p.toLong)
    val compB = Seq((100L, 100L), (100L, 101L), (101L, 100L)) // tiny
    val compC = for { u <- 200 until 204; p <- 200 until 210 }
      yield (u.toLong, p.toLong)
    assertAgree((compA ++ compB ++ compC).toDF("u", "p"), "disconnected")
  }

  test("iters = 0 fails with the contract, not an NPE") {
    import spark.implicits._
    val edges = Seq((1L, 1L)).toDF("u", "p")
    for (cp <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException] {
        Hits.authorities(edges, iters = 0, parts = 2, copartitioned = cp)
      }
      assert(e.getMessage.contains("at least one iteration"))
    }
  }

  test("variants agree on the real co-purchase graph (sf0.001)") {
    val s = spark
    val edges = graft.Tables.load(s, "/root/testdata/sf0.001", "lineitem")
      .join(graft.Tables.load(s, "/root/testdata/sf0.001", "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
      .distinct()
    val bc = scoresOf(Hits.authorities(edges, iters = 6, parts = 4))
    val cp = scoresOf(Hits.authorities(edges, iters = 6, parts = 4,
      copartitioned = true))
    assert(bc.keySet == cp.keySet && bc.nonEmpty)
    bc.foreach { case (p, v) =>
      assert(math.abs(v - cp(p)) < 1e-9, s"authority($p) diverged")
    }
    // and the broadcast form here IS the gate shape: its top-10 must
    // match q472's ordering rule output on the same inputs
    val top = Hits.authorities(edges, iters = 6, parts = 4)
      .orderBy(col("authority").desc, col("p")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(top.size == 10 && top.distinct.size == 10)
  }
}
