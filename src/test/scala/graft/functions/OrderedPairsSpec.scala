package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The codegen'd posting-pair expansion must emit exactly the pairs
  * (and order) of the interpreted nested-HOF form it replaced — the
  * q22/q105/curation/prefix-filter pipelines' oracle hashes were
  * pinned against that form.
  */
class OrderedPairsSpec extends SparkSpec {

  import spark.implicits._

  private def hofPairs(ds: org.apache.spark.sql.Column) =
    flatten(transform(
      sequence(lit(1), size(ds) - 1),
      i => transform(
        sequence(i + 1, size(ds)),
        j => struct(element_at(ds, i).as("a"), element_at(ds, j).as("b")))))

  test("matches the interpreted HOF form, including order") {
    // n >= 2 only: the HOF reference form itself breaks below that
    // (sequence(1, n-1) runs BACKWARD for n < 2) — production always
    // filtered size >= 2 before expanding, which is why it never hit
    val lists = Seq(
      Seq(1L, 2L, 3L, 4L),
      Seq(10L, 20L),
      (1L to 25L).toSeq).toDF("ds")
    val rows = lists.select(
      OrderedPairs(col("ds")).as("fast"),
      hofPairs(col("ds")).as("slow")).collect()
    rows.foreach { r =>
      val fast = r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getLong(0), p.getLong(1)))
      val slow = r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1)))
      assert(fast == slow, s"$fast != $slow")
    }
  }

  test("degenerate lists yield no pairs (better than the HOF form)") {
    val out = Seq(Seq(7L), Seq.empty[Long]).toDF("ds")
      .select(size(OrderedPairs(col("ds"))).as("n"))
      .collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 0))
  }

  test("seeded fuzz: random posting lists match the HOF form, including order") {
    // adversarial shapes: duplicates, negatives, extremes, sizes
    // spanning 2..400 (79 800 pairs at the top — the q22 hot range)
    val rnd = new scala.util.Random(7220)
    val lists: Seq[Seq[Long]] = (1 to 40).map { _ =>
      val n = 2 + rnd.nextInt(399)
      Seq.fill(n)(rnd.nextInt(5) match {
        case 0 => rnd.nextLong()
        case 1 => Long.MaxValue - rnd.nextInt(3)
        case 2 => Long.MinValue + rnd.nextInt(3)
        case 3 => rnd.nextInt(4).toLong // force duplicates
        case _ => rnd.nextInt(1000000).toLong
      })
    } ++ Seq(Seq(0L, 0L), Seq(-1L, -1L, -1L)) // all-duplicate lists
    val rows = lists.toDF("ds").select(
      OrderedPairs(col("ds")).as("fast"),
      hofPairs(col("ds")).as("slow")).collect()
    rows.foreach { r =>
      val fast = r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getLong(0), p.getLong(1)))
      val slow = r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1)))
      assert(fast == slow, s"fuzz diverged: ${fast.take(5)} != ${slow.take(5)}")
    }
  }

  test("pair count guards Int overflow with an actionable error") {
    // 46 341²-territory: n(n-1)/2 in Int arithmetic goes negative
    // from n ≈ 46 342; the guard computes in Long and fails clearly
    assert(OrderedPairs.pairCount(2) == 1)
    assert(OrderedPairs.pairCount(46341) == (46341L * 46340L / 2L).toInt)
    val e = intercept[IllegalArgumentException](OrderedPairs.pairCount(100000))
    assert(e.getMessage.contains("cap the posting list"))
  }

  test("pair count is n(n-1)/2 and null input stays null") {
    val out = Seq(Tuple1(Option(Seq(1L, 2L, 3L))), Tuple1(None: Option[Seq[Long]]))
      .toDF("ds")
      .select(size(OrderedPairs(col("ds"))).as("n"))
      .collect()
    assert(out(0).getInt(0) == 3)
    assert(out(1).isNullAt(0)) // the null propagated (size(NULL) is NULL)
  }
}
