package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The codegen'd ordered fold must be bit-identical to the
  * interpreted `aggregate(transform(array_sort(collect_list(...))))`
  * stack it replaced in q472_hits, since six rounds of float
  * arithmetic amplify any single-addition rounding difference into a
  * gate hash mismatch. Double addition is not associative, so the
  * check uses adversarial magnitudes (1e16 next to 1e-16) where any
  * reordering changes the bits.
  */
class KeyOrderedFoldSpec extends SparkSpec {

  import spark.implicits._

  private def hofSum(squared: Boolean): Column = {
    val v = if (squared) "e.v * e.v" else "e.v"
    expr(s"aggregate(transform(array_sort(collect_list(" +
      s"struct(k, v))), e -> $v), 0.0D, (acc, x) -> acc + x)")
  }

  private val rnd = new scala.util.Random(91472)

  /** Keys unique per group, shuffled; values span 16 orders of
    * magnitude so addition order is observable in the bits.
    */
  private def rows(groups: Int, maxPerGroup: Int): Seq[(Long, Long, Double)] =
    (0 until groups).flatMap { g =>
      val n = 1 + rnd.nextInt(maxPerGroup)
      rnd.shuffle((0 until n).toList).map { k =>
        val mag = math.pow(10.0, rnd.nextInt(33) - 16)
        (g.toLong, k.toLong * 7919L + g, (rnd.nextDouble() - 0.5) * mag)
      }
    }

  test("grouped fold is bit-identical to the HOF stack (sum and sumsq)") {
    val df = rows(groups = 50, maxPerGroup = 40).toDF("g", "k", "v")
    for (squared <- Seq(false, true)) {
      val fused = if (squared) KeyOrderedFold.sumSq(collect_list(struct(col("k"), col("v"))))
                  else KeyOrderedFold.sum(collect_list(struct(col("k"), col("v"))))
      val got = df.groupBy("g").agg(fused.as("f")).orderBy("g")
        .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      val want = df.groupBy("g").agg(hofSum(squared).as("f")).orderBy("g")
        .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      assert(got.toSeq == want.toSeq, s"squared=$squared diverged from HOF form")
    }
  }

  test("norm-sized single group (quicksort path) matches the HOF stack") {
    // 20k elements exercises the recursive quicksort, not just the
    // insertion-sort tail that small groups hit
    val df = rows(groups = 1, maxPerGroup = 1).flatMap { _ =>
      rnd.shuffle((0 until 20000).toList).map { k =>
        (0L, k.toLong, (rnd.nextDouble() - 0.5) * math.pow(10.0, k % 20 - 10))
      }
    }.toDF("g", "k", "v")
    val got = df.agg(KeyOrderedFold.sum(collect_list(struct(col("k"), col("v")))).as("f"))
      .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
    val want = df.agg(hofSum(squared = false).as("f"))
      .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
    assert(got.toSeq == want.toSeq)
  }

  test("empty array folds to the 0.0 seed; sorted input hits the median-of-three guard") {
    val empty = Seq((1L, Array.empty[(Long, Double)])).toDF("g", "arr")
      .select(col("g"), col("arr").cast("array<struct<k: bigint, v: double>>").as("arr"))
    val r = empty.select(KeyOrderedFold.sum(col("arr"))).head.getDouble(0)
    assert(r == 0.0)
    // pre-sorted and reverse-sorted 1k-element arrays (quicksort
    // worst cases without the pivot guard)
    for (rev <- Seq(false, true)) {
      val ks = if (rev) (999 to 0 by -1) else (0 to 999)
      val df = ks.map(k => (0L, k.toLong, k * 1.5e-7 + 1e9)).toDF("g", "k", "v")
      val got = df.agg(KeyOrderedFold.sum(collect_list(struct(col("k"), col("v")))).as("f"))
        .head.getDouble(0)
      val want = df.agg(hofSum(squared = false).as("f")).head.getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"rev=$rev")
    }
  }
}
