package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ExactQuantiles must be BIT-IDENTICAL to Spark's built-in exact
  * percentile aggregates — the gates it accelerates are hash-gated
  * against a DuckDB oracle that the built-ins currently match, so any
  * deviation (including double-rounding at rank boundaries) is a
  * correctness regression. Fuzzed over seeded random corpora with
  * heavy ties, tiny and mid-sized groups, and the exact p values the
  * gates use plus random ones.
  */
class ExactQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private val gatePs =
    Seq(0.1, 0.45, 0.49, 0.5, 0.51, 0.55, 0.89, 0.9, 0.91, 0.985, 0.99, 0.995)

  private def corpus(seed: Long, nGroups: Int, maxRows: Int, tieRange: Int) = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until nGroups).flatMap { g =>
      // group sizes 1..maxRows, values drawn with ties when tieRange small
      val n = 1 + rnd.nextInt(maxRows)
      (0 until n).map { _ =>
        val v =
          if (tieRange > 0) rnd.nextInt(tieRange).toDouble
          else rnd.nextDouble() * 1000.0
        (s"g$g", v)
      }
    }
    rows.toDF("k", "v").repartition(4)
  }

  private def checkDisc(seed: Long, nGroups: Int, maxRows: Int, tieRange: Int,
                        ps: Seq[Double]): Unit = {
    val df = corpus(seed, nGroups, maxRows, tieRange)
    val named = ps.zipWithIndex.map { case (p, i) => (s"q$i", p) }
    val mine = ExactQuantiles.disc(df, Seq("k"), "v", named)
      .orderBy("k").collect()
    val builtinAggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(s"q$i")
    }
    val ref = df.groupBy("k")
      .agg(builtinAggs.head, builtinAggs.tail: _*)
      .orderBy("k").collect()
    assert(mine.length == ref.length)
    mine.zip(ref).foreach { case (m, r) =>
      assert(m.getString(0) == r.getString(0))
      ps.indices.foreach { i =>
        val mv = m.getDouble(m.fieldIndex(s"q$i"))
        val rv = r.getDouble(r.fieldIndex(s"q$i"))
        assert(java.lang.Double.doubleToLongBits(mv) ==
          java.lang.Double.doubleToLongBits(rv),
          s"disc mismatch k=${m.getString(0)} p=${ps(i)}: mine=$mv builtin=$rv")
      }
    }
  }

  private def checkCont(seed: Long, nGroups: Int, maxRows: Int, tieRange: Int,
                        ps: Seq[Double]): Unit = {
    val df = corpus(seed, nGroups, maxRows, tieRange)
    val named = ps.zipWithIndex.map { case (p, i) => (s"q$i", p) }
    val mine = ExactQuantiles.cont(df, Seq("k"), "v", named)
      .orderBy("k").collect()
    val arr = ps.mkString("array(", "D, ", "D)")
    val ref = df.groupBy("k")
      .agg(expr(s"percentile(v, $arr)").as("qs"))
      .orderBy("k").collect()
    assert(mine.length == ref.length)
    mine.zip(ref).foreach { case (m, r) =>
      assert(m.getString(0) == r.getString(0))
      val refQs = r.getSeq[Double](1)
      ps.indices.foreach { i =>
        val mv = m.getDouble(m.fieldIndex(s"q$i"))
        assert(java.lang.Double.doubleToLongBits(mv) ==
          java.lang.Double.doubleToLongBits(refQs(i)),
          s"cont mismatch k=${m.getString(0)} p=${ps(i)}: mine=$mv builtin=${refQs(i)}")
      }
    }
  }

  test("disc matches percentile_disc bit-exactly: gate ps, tied small groups") {
    checkDisc(seed = 11L, nGroups = 60, maxRows = 40, tieRange = 7, ps = gatePs)
  }

  test("disc matches percentile_disc bit-exactly: random ps, distinct mid groups") {
    val rnd = new scala.util.Random(12L)
    val ps = Seq.fill(6)(0.001 + rnd.nextDouble() * 0.998)
    checkDisc(seed = 13L, nGroups = 8, maxRows = 900, tieRange = 0, ps = ps)
  }

  test("disc: rank-boundary group sizes (n multiples hitting p*n integers)") {
    // n divisible by 10/20/100 makes ceil(n*p) ride the double-rounding
    // edge for the gate's 0.1/0.5/0.9/0.99 — pin exact group sizes
    val rows = Seq(10, 20, 100, 200, 1000).zipWithIndex.flatMap {
      case (n, g) => (1 to n).map(i => (s"g$g", i.toDouble))
    }
    val df = rows.toDF("k", "v")
    val named = gatePs.zipWithIndex.map { case (p, i) => (s"q$i", p) }
    val mine = ExactQuantiles.disc(df, Seq("k"), "v", named).orderBy("k").collect()
    val builtinAggs = gatePs.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(s"q$i")
    }
    val ref = df.groupBy("k").agg(builtinAggs.head, builtinAggs.tail: _*)
      .orderBy("k").collect()
    mine.zip(ref).foreach { case (m, r) =>
      gatePs.indices.foreach { i =>
        assert(m.getDouble(m.fieldIndex(s"q$i")) == r.getDouble(r.fieldIndex(s"q$i")),
          s"k=${m.getString(0)} p=${gatePs(i)}")
      }
    }
  }

  test("cont matches percentile bit-exactly: gate ps, tied small groups") {
    checkCont(seed = 21L, nGroups = 60, maxRows = 40, tieRange = 7, ps = gatePs)
  }

  test("cont matches percentile bit-exactly: random ps, distinct mid groups") {
    val rnd = new scala.util.Random(22L)
    val ps = Seq.fill(6)(0.001 + rnd.nextDouble() * 0.998)
    checkCont(seed = 23L, nGroups = 8, maxRows = 900, tieRange = 0, ps = ps)
  }

  test("cont: interpolation between adjacent distinct values is the IEEE replica") {
    // 2-row group: pos = p exactly, interpolation fully exercised
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("k", "v")
    val named = Seq(("p37", 0.37))
    val mine = ExactQuantiles.cont(df, Seq("k"), "v", named).orderBy("k").collect()
    assert(mine(0).getDouble(mine(0).fieldIndex("p37")) ==
      (1.0 - 0.37) * 1.0 + 0.37 * 2.0)
    assert(mine(1).getDouble(mine(1).fieldIndex("p37")) == 5.0) // single value
  }

  test("nulls in the value column are ignored") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("k", "v")
    val d = ExactQuantiles.disc(df, Seq("k"), "v", Seq(("p50", 0.5))).collect()
    assert(d.head.getDouble(d.head.fieldIndex("p50")) == 1.0)
    assert(d.head.getLong(d.head.fieldIndex("__group_n")) == 2L)
  }

  test("an all-null group stays in the output with null quantiles, like the built-in") {
    // round-9 ADVICE: the group used to vanish entirely, so inner-join
    // call sites silently dropped it where the built-in aggregate
    // keeps the group with null quantiles and count 0
    val df = Seq(("a", Some(2.0)), ("b", None), ("b", None))
      .toDF("k", "v")
    for (q <- Seq(
        ExactQuantiles.disc(df, Seq("k"), "v", Seq(("p50", 0.5))),
        ExactQuantiles.cont(df, Seq("k"), "v", Seq(("p50", 0.5))))) {
      val rows = q.collect().map(r => r.getString(0) -> r).toMap
      assert(rows.keySet == Set("a", "b"), "all-null group b must not vanish")
      assert(!rows("a").isNullAt(rows("a").fieldIndex("p50")))
      assert(rows("a").getDouble(rows("a").fieldIndex("p50")) == 2.0)
      assert(rows("b").isNullAt(rows("b").fieldIndex("p50")),
        "all-null group must yield a NULL quantile")
      assert(rows("b").getLong(rows("b").fieldIndex("__group_n")) == 0L)
    }
  }

  test("negative zero: the rank-select forms return +0.0 where the built-in returns -0.0") {
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    // a group whose p50 lands ON a negative zero: sorted [-0.0,-0.0,1.0],
    // disc rank ceil(3*0.5)=2 → the raw built-in returns the -0.0 bit
    // pattern (its OpenHashMap buffer keys the two zeros separately)
    val df = Seq(("z", -0.0), ("z", -0.0), ("z", 1.0)).toDF("k", "v")
    val raw = df.groupBy("k")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("q"))
      .collect().head.getDouble(1)
    assert(bits(raw) == bits(-0.0),
      "premise drift: Spark's raw percentile_disc no longer returns -0.0 here " +
        "— revisit the zero contract in ExactQuantiles' doc")
    val ps = Seq(("p50", 0.5))
    // rank-select forms: groupBy normalization collapses to +0.0
    for (q <- Seq(ExactQuantiles.disc(df, Seq("k"), "v", ps),
                  ExactQuantiles.cont(df, Seq("k"), "v", ps))) {
      assert(bits(q.collect().head.getDouble(1)) == bits(0.0),
        "rank-select zero must be +0.0")
    }
    // cont's lo==hi collapse path on an all-negative-zero group
    val zz = Seq(("a", -0.0), ("a", -0.0)).toDF("k", "v")
    assert(bits(ExactQuantiles.cont(zz, Seq("k"), "v", ps)
      .collect().head.getDouble(1)) == bits(0.0))
  }
}
